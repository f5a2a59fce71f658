"""Command-line parsing of the profiling tools."""

from __future__ import annotations

from tools.profile_streaming import split_args


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
