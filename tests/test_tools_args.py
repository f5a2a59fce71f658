"""Command-line parsing of the profiling tools."""

from __future__ import annotations

import importlib
import sys

import pytest

from tools.profile_streaming import split_args

from .conftest import SF_SMOKE


def test_profile_streaming_conf_values_are_not_query_names():
    args, confs = split_args(
        [
            "/data/sf0.01",
            "stream_join_asof",
            "--conf",
            "spark.sql.streaming.stateStore.providerClass=x.Y",
            "stream_cdc_apply",
            "--conf",
            "k=a=b",
        ]
    )
    assert args == ["/data/sf0.01", "stream_join_asof", "stream_cdc_apply"]
    assert confs == {"spark.sql.streaming.stateStore.providerClass": "x.Y", "k": "a=b"}


def test_profile_streaming_trailing_conf_without_value():
    assert split_args(["/data", "q", "--conf"]) == (["/data", "q"], {})


@pytest.mark.parametrize("tool", ["check", "dump_cells", "type_audit", "plan_audit", "profile_streaming"])
def test_unknown_query_name_exits_2(tool, monkeypatch, capsys):
    """A typo'd query name must neither pass as "0 type problems" nor die
    on a bare KeyError: every tool that takes names exits 2 naming it."""
    monkeypatch.setattr(sys, "argv", [f"{tool}.py", SF_SMOKE, "ref_total_count", "typo_name"])
    try:
        code = importlib.import_module(f"tools.{tool}").main()
    except SystemExit as exc:
        code = exc.code
    assert code == 2
    assert "typo_name" in capsys.readouterr().err
