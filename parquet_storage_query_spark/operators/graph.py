"""Graph analytics over corpus-derived graphs (SURVEY.md §2.12).

The near-duplicate pair table IS a graph — docs are nodes, verified
MinHash pairs are edges — and the connected-components operator
(dedup_clusters) already walks it. This module adds the other classic
iterative graph computation: PageRank over that graph, which ranks
boilerplate/template HUBS (docs similar to many other docs score high —
exactly the pages a curation pipeline wants a human to look at first,
since dropping one hub's cluster removes the most redundancy).

Like sim_kmeans_train and text_bpe_vocab_train, the iterative loop is
fully hash-checked: the DuckDB oracle unrolls every power iteration as a
chained CTE over the SAME md5-seeded MinHash pair derivation, and each
iteration's ranks are rounded (8 decimals) so the float replay is exact
across engines and across partition orders — rounding per step is also
what makes a 1000-executor merge deterministic run-to-run.

Reference analogue: none (the reference has no iterative operators);
cites the fan-out principle QueryOrchestration.cs:478-496 — per-iteration
work is one keyed shuffle, never a driver-side matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import session_frame, session_memo
from ..catalog import load
from ..registry import query
from .dedup import _MH_JACCARD_TAIL, _mh_duck_ctes

PR_DAMP = 0.85
PR_ITERS = 4
PR_ROUND = 8  # per-iteration rank rounding — cross-engine/ordering exactness


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edge list of the verified near-dup graph,
    built ONCE per session off the memoized MinHash pair table and
    checkpointed at O(pairs): five iterative consumers (pagerank, LPA,
    kcore, BFS, modularity) previously each re-derived and re-
    checkpointed the same two-way union per serve — four redundant
    materialization jobs and four duplicate cached copies (guide §2.4)."""

    def build() -> DataFrame:
        from .dedup import dedup_minhash_lsh

        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        return (
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .unionAll(
                pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
            )
        )

    return session_frame(spark, sf_dir, "graph_neardup_edges", build)


def _pagerank_oracle() -> str:
    """Unrolled power iteration over the minhash pair graph. r0 is the
    uniform vector; each r{i} pulls contributions along reversed edges
    (undirected graph → symmetric edge list, so every node has in-degree
    ≥ 1 and no dangling mass exists)."""
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
        SELECT e.dst AS doc, round((1 - {PR_DAMP}) / nn.n
               + {PR_DAMP} * sum(r.pr / deg.d), {PR_ROUND}) AS pr
        FROM edges e
        JOIN r{i - 1} r ON r.doc = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst, nn.n)"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL},
    pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT doc, round(1.0 / nn.n, {PR_ROUND}) AS pr
           FROM nodes CROSS JOIN nn),
    {chain}
    SELECT doc AS doc_id, round(pr, 6) AS pagerank
    FROM r{PR_ITERS}
    ORDER BY pagerank DESC, doc_id
    LIMIT 50
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate graph: top-50 boilerplate hubs.

    Distributed power iteration — per iteration ONE join of the edge list
    with the current rank vector and one dst-keyed partial-merged
    aggregate; the node count is a one-row aggregate broadcast into the
    plan (never collected). The edge/degree tables are built once from
    the shared minhash pair query and localCheckpoint-ed so the 4
    iterations scan a cached RDD instead of replaying the LSH pipeline
    4×. At 100 TB: |edges| ≈ O(docs) for a banded near-dup graph, so an
    iteration is one linear keyed shuffle; ranks round to 8 decimals per
    step, which both pins the cross-engine hash and makes the result
    independent of executor merge order."""

    def build() -> DataFrame:
        edges = _neardup_edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        nodes = edges.select(F.col("src").alias("doc")).distinct()
        nn = nodes.agg(F.count(F.lit(1)).alias("n"))
        ranks = nodes.crossJoin(F.broadcast(nn)).select(
            "doc", F.round(F.lit(1.0) / F.col("n"), PR_ROUND).alias("pr")
        )
        contrib_src = edges.join(deg, "src")
        for _ in range(PR_ITERS):
            ranks = (
                contrib_src.join(ranks, contrib_src.src == ranks.doc)
                .select("dst", (F.col("pr") / F.col("d")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("_s"))
                .crossJoin(F.broadcast(nn))
                .select(
                    F.col("dst").alias("doc"),
                    F.round(
                        (1 - PR_DAMP) / F.col("n") + PR_DAMP * F.col("_s"), PR_ROUND
                    ).alias("pr"),
                )
            )
        return (
            ranks.select("doc", F.round("pr", 6).alias("pagerank"))
            .select(F.col("doc").alias("doc_id"), "pagerank")
            .orderBy(F.col("pagerank").desc(), "doc_id")
            .limit(50)
        )

    return session_memo(spark, sf_dir, "graph_pagerank", build)


def _pairs_ctes() -> str:
    """Shared DuckDB derivation of the verified near-dup pair list (the
    same md5-seeded MinHash pipeline the Spark side memoizes)."""
    return f"""{_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL},
    pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs)"""


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {{}},
    tri AS (
        SELECT count(*) AS n_triangles
        FROM pairs p1
        JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
        JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b)
    SELECT (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT count(DISTINCT src) FROM sym) AS n_nodes,
           (SELECT n_triangles FROM tri) AS n_triangles
    """.format(_pairs_ctes()),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup graph — the clustering-structure
    census (triangles = mutually-similar doc triples; a triangle-dense
    region is a template family, a triangle-free path is chained drift),
    and the third member of the iterative/graph family after connected
    components and PageRank.

    Scale shape — DEGREE-ORDERED edge orientation, the standard
    distributed algorithm: orient every edge from its lower-(degree, id)
    endpoint to the higher one, build wedges only out of each node's
    oriented neighbors, and close them against the oriented edge list.
    Each triangle is counted exactly ONCE (its minimum-(degree, id)
    corner owns it), and the wedge count is bounded by Σ out-deg² with
    out-degrees capped at O(√|E|) — the bound that makes triangle
    counting feasible on power-law graphs where the naive per-node
    neighborhood join explodes on hubs. All joins are doc-id equi-joins.
    The DuckDB oracle enumerates the same triangles by id order (any
    total order counts each triangle once — equality is the check that
    both enumerations see the same graph)."""

    def build() -> DataFrame:
        from .dedup import dedup_minhash_lsh

        pairs = session_frame(
            spark,
            sf_dir,
            "triangle_pairs",
            lambda: dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
        )
        sym = pairs.select(F.col("doc_a").alias("id"), F.col("doc_b").alias("nbr")).unionAll(
            pairs.select(F.col("doc_b").alias("id"), F.col("doc_a").alias("nbr"))
        )
        deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
        da = deg.select(F.col("id").alias("doc_a"), F.col("d").alias("da"))
        db = deg.select(F.col("id").alias("doc_b"), F.col("d").alias("db"))
        withdeg = pairs.join(da, "doc_a").join(db, "doc_b")
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
        )
        oriented = session_frame(
            spark,
            sf_dir,
            "triangle_oriented",
            lambda: withdeg.select(
                F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
                F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
                F.when(
                    a_first, F.struct(F.col("db").alias("d"), F.col("doc_b").alias("id"))
                )
                .otherwise(F.struct(F.col("da").alias("d"), F.col("doc_a").alias("id")))
                .alias("dk"),
            ),
        )
        e1 = oriented.select("src", F.col("dst").alias("v"), F.col("dk").alias("vk"))
        e2 = oriented.select("src", F.col("dst").alias("w"), F.col("dk").alias("wk"))
        wedges = e1.join(e2, "src").filter(F.col("vk") < F.col("wk"))
        closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        tri = wedges.join(closer, ["v", "w"]).agg(
            F.count(F.lit(1)).alias("n_triangles")
        )
        n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
        n_nodes = sym.select("id").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
        return (
            n_edges.crossJoin(n_nodes)
            .crossJoin(tri)
            .select("n_edges", "n_nodes", "n_triangles")
        )

    return session_memo(spark, sf_dir, "graph_triangle_count", build)


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH {{}},
    deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src)
    SELECT d AS degree, count(*) AS n_docs FROM deg GROUP BY d
    """.format(_pairs_ctes()),
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph: how many docs have k
    verified near-duplicates — the first question about any corpus graph
    (a heavy tail here means template/boilerplate hubs; the histogram is
    what justifies the degree-ordered orientation the triangle counter
    uses). Two partial-merge aggregates: one doc-keyed, one over the
    O(max-degree) histogram."""

    def build() -> DataFrame:
        from .dedup import dedup_minhash_lsh

        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        sym = pairs.select(F.col("doc_a").alias("id")).unionAll(
            pairs.select(F.col("doc_b").alias("id"))
        )
        deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
        return deg.groupBy(F.col("d").alias("degree")).agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    return session_memo(spark, sf_dir, "graph_degree_histogram", build)



_CO_KNN_CTES = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_co
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           GROUP BY 1, 2),
    knn AS (SELECT p1, p2 FROM (
              SELECT p1, p2,
                     row_number() OVER (PARTITION BY p1
                                        ORDER BY n_co DESC, p2) AS rn
              FROM co) WHERE rn <= 10),
    colist AS (SELECT k1.p2 AS b, k2.p2 AS c, count(*) AS n_lists
               FROM knn k1 JOIN knn k2 ON k1.p1 = k2.p1 AND k1.p2 < k2.p2
               GROUP BY 1, 2)"""


def _co_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric co-purchase table (p1, p2, n_co), checkpointed once per
    session — shared root of the kNN graph queries (one lineitem scan +
    one order-keyed self-join no matter how many graph queries run)."""

    def build() -> DataFrame:
        # ONE order-keyed pass (guide §2.4): collect the distinct part set
        # per order and expand ordered pairs INSIDE each set row — the
        # r11-era distinct + self-join shape paid 2 corpus scans and 4
        # exchanges (2 distinct shuffles + join build + final groupBy) for
        # the same multiset of pairs; this is 1 scan and 2 exchanges
        # (order-keyed set fold, pair-keyed count). Items per order is
        # bounded by the data model (≤7 here), so the in-row n·(n−1)
        # expansion is a constant per order at any corpus size. collect_set
        # ≙ the old .distinct(); pair counts don't depend on set order.
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        sets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
        pairs = sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> transform("
                    "filter(ps, y -> y != x), y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        return (
            pairs.select("pr.p1", "pr.p2")
            .groupBy("p1", "p2")
            .agg(F.count(F.lit(1)).alias("n_co"))
        )

    return session_frame(spark, sf_dir, "graph_co_table", build)


def _knn_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1, t): each part's top-10 partner list by (n_co DESC, p2) — the
    kNN truncation, computed ONCE per session. Five consumers (colist,
    jaccard edges, assortativity, HITS, reciprocity) previously re-ran the
    same row_number window over the full co table per serve; this memo runs
    the window ONCE (codegen sort — measured 25% faster at sf1 than a
    per-group full-array collect_list+sort), folds the ≤10 survivors per
    part into rank order, and checkpoints at O(parts) rows."""

    def build() -> DataFrame:
        from pyspark.sql import Window as W

        co = _co_table(spark, sf_dir)
        rn = F.row_number().over(
            W.partitionBy("p1").orderBy(F.col("n_co").desc(), "p2")
        )
        return (
            co.withColumn("rn", rn)
            .filter(F.col("rn") <= 10)
            .groupBy("p1")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(rn, p2))), "
                    "s -> s.p2) AS t"
                )
            )
        )

    return session_frame(spark, sf_dir, "graph_knn_lists", build)


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN digraph exploded to (p1, p2) edges — a narrow expansion of
    the checkpointed _knn_lists memo (no shuffle, no window)."""
    return _knn_lists(spark, sf_dir).select("p1", F.explode("t").alias("p2"))


def _colist_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-listing census over the truncated kNN graph: (b, c, n_lists) =
    how many parts' top-10 partner lists contain BOTH b and c (common
    in-neighbors in the kNN digraph). Top-M truncation bounds the wedge
    work at n·C(10,2) — see graph_common_neighbors docstring."""
    def build() -> DataFrame:
        # wedge pairs enumerate INSIDE each top-10 list row (≤C(10,2) per
        # part by construction) — the former knn self-join on p1 re-shuffled
        # the exploded edge list twice for pairs that were already co-resident
        # in one list (guide §2.4); now the only exchange is the (b, c) count
        lists = _knn_lists(spark, sf_dir)
        pairs = lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(t, b -> transform("
                    "filter(t, c -> c > b), c -> struct(b, c))))"
                )
            ).alias("pr")
        )
        return (
            pairs.select("pr.b", "pr.c")
            .groupBy("b", "c")
            .agg(F.count(F.lit(1)).alias("n_lists"))
        )

    return session_frame(spark, sf_dir, "graph_colist_table", build)


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH {_CO_KNN_CTES},
    ne AS (SELECT colist.b, colist.c, colist.n_lists
           FROM colist LEFT JOIN co ON co.p1 = colist.b AND co.p2 = colist.c
           WHERE co.p1 IS NULL)
    SELECT b AS part_a, c AS part_b, n_lists
    FROM ne WHERE n_lists >= 3
    ORDER BY n_lists DESC, part_a, part_b LIMIT 25
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors LINK PREDICTION over the co-purchase graph — the
    market-basket "you may also like": part pairs NEVER ordered together
    that co-appear in many parts\' nearest-neighbor lists (two parts
    recommended alongside the same partners are likely substitutes or
    complements). The near-dup doc graph can\'t host this query — banded
    MinHash clusters are cliques by construction (every wedge is already
    closed), so the graph with real open wedges is the behavioral one.

    Scale design — the part that matters at 100 TB: the raw co-purchase
    graph\'s wedge count is Σ deg², unbounded on hub products (measured
    here: 32M candidate pairs at sf0.1 and super-linear beyond). The
    standard fix is TOP-M NEIGHBOR TRUNCATION: keep each part\'s 10
    strongest partners (one part-keyed top-k fold over the co-occurrence
    table — deterministic (n_co DESC, id) order), and enumerate wedges
    only WITHIN those fixed-width lists: candidate work is exactly
    n·C(10,2), linear in parts at any corpus size — the kNN-graph
    construction every production recommender/ANN-graph pipeline uses.
    Co-occurrence itself is one order-keyed set fold with in-row pair
    expansion (items-per-order is bounded), and the non-edge filter is
    an anti-join back against the co table. Top-k cut is total-ordered
    (n_lists, ids). The co and colist tables are session-shared with
    graph_jaccard_edges."""
    co = _co_table(spark, sf_dir)
    colist = _colist_table(spark, sf_dir)
    # merge hint: both sides are corpus-growing checkpointed tables whose
    # LogicalRDD stats UNDERESTIMATE (the set-fold build plans small), so
    # the planner auto-broadcast the 24M-row co side at sf1 — measured
    # 1.7 s -> 26 s. A sort-merge join is the only shape that survives any
    # corpus size here (same policy as the salted fact joins).
    ne = colist.join(
        co.hint("merge"), (colist.b == co.p1) & (colist.c == co.p2), "left_anti"
    )
    return (
        ne.filter(F.col("n_lists") >= 3)
        .select(F.col("b").alias("part_a"), F.col("c").alias("part_b"), "n_lists")
        .orderBy(F.col("n_lists").desc(), "part_a", "part_b")
        .limit(25)
    )


@query(
    "graph_jaccard_edges",
    oracle=f"""
    WITH {_CO_KNN_CTES},
    indeg AS (SELECT p2 AS node, count(*) AS ind FROM knn GROUP BY p2),
    scored AS (
        SELECT cl.b, cl.c, cl.n_lists,
               ib.ind + ic.ind - cl.n_lists AS u
        FROM colist cl
        JOIN co ON co.p1 = cl.b AND co.p2 = cl.c
        JOIN indeg ib ON ib.node = cl.b
        JOIN indeg ic ON ic.node = cl.c)
    SELECT b AS part_a, c AS part_b, n_lists,
           (2000000 * n_lists + u) // (2 * u) AS jaccard_e6
    FROM scored WHERE n_lists >= 2
    ORDER BY jaccard_e6 DESC, part_a, part_b LIMIT 25
    """,
)
def graph_jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard EDGE SCORING on the kNN co-purchase graph:
    for part pairs that ARE co-ordered, how similar are their
    recommendation neighborhoods — |N⁻(a) ∩ N⁻(b)| / |N⁻(a) ∪ N⁻(b)|
    over kNN in-neighbor sets. High scores mark redundant/substitute
    edges (same audience reaches both); the score is the standard edge
    weight for graph sparsification and community pre-clustering, and
    the structural complement of `graph_common_neighbors` (which scores
    NON-edges: same census, opposite join polarity).

    Scale shape: reuses the session-shared co + colist tables (zero
    extra corpus scans — the intersection size IS the co-listing count);
    in-degrees are one knn rollup; union size folds by
    inclusion-exclusion, no set materialization. Jaccard reported as
    round-half-up integer millionths via the (2·10⁶·x + u) DIV 2u rule
    (driver-proof policy)."""
    co = _co_table(spark, sf_dir)
    colist = _colist_table(spark, sf_dir)
    knn = _knn_edges(spark, sf_dir)
    indeg = knn.groupBy(F.col("p2").alias("node")).agg(F.count(F.lit(1)).alias("ind"))
    # merge hint: see graph_common_neighbors — co's checkpoint stats
    # underestimate and the planner auto-broadcast 24M rows at sf1
    edges = colist.join(
        co.hint("merge"), (colist.b == co.p1) & (colist.c == co.p2), "left_semi"
    )
    ib = indeg.select(F.col("node").alias("b"), F.col("ind").alias("ib"))
    ic = indeg.select(F.col("node").alias("c"), F.col("ind").alias("ic"))
    scored = (
        edges.join(ib, "b")
        .join(ic, "c")
        .withColumn("u", F.col("ib") + F.col("ic") - F.col("n_lists"))
    )
    return (
        scored.filter(F.col("n_lists") >= 2)
        .select(
            F.col("b").alias("part_a"),
            F.col("c").alias("part_b"),
            "n_lists",
            F.expr("(2000000 * n_lists + u) DIV (2 * u)").alias("jaccard_e6"),
        )
        .orderBy(F.col("jaccard_e6").desc(), "part_a", "part_b")
        .limit(25)
    )

LPA_ITERS = 4


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: each round every node takes
    its neighbors' MODE label (ties → smallest label), replayed in DuckDB
    as a count + row_number pick per round. Integer labels and counts —
    no float anywhere, so the unrolled replay is exact by construction."""
    steps = []
    for i in range(1, LPA_ITERS + 1):
        steps.append(f"""l{i} AS (
        SELECT doc, lbl FROM (
            SELECT e.dst AS doc, p.lbl, count(*) AS c,
                   row_number() OVER (PARTITION BY e.dst
                                      ORDER BY count(*) DESC, p.lbl) AS rn
            FROM sym e JOIN l{i - 1} p ON p.doc = e.src
            GROUP BY e.dst, p.lbl)
        WHERE rn = 1)""")
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_pairs_ctes()},
    l0 AS (SELECT DISTINCT src AS doc, src AS lbl FROM sym),
    {chain}
    SELECT lbl AS community, count(*) AS n_docs
    FROM l{LPA_ITERS}
    GROUP BY lbl
    ORDER BY n_docs DESC, community
    LIMIT 50
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, the standard near-linear community algorithm) over the
    near-dup graph: every node starts as its own community and each round
    adopts the most common label among its neighbors (ties → smallest
    label — the determinism rule that makes synchronous LPA replayable;
    the textbook's random asynchronous order is not). After 4 rounds the
    top-50 community census comes out. On a near-dup graph communities
    are template families — same intent as dedup_clusters' connected
    components but LOCAL-majority-driven, so a thin bridge edge between
    two dense families does NOT merge them the way CC must (the reason
    curation pipelines run both).

    Scale shape: one round = one join of the symmetric edge list with the
    |V|-row label table (src-keyed shuffle) + a (dst, lbl) partial-merged
    count + an aggregate-sized argmax; the mode pick is max(struct(count,
    -label)) — a partial-merge aggregate, no window over raw edges. Edges
    are localCheckpoint-ed once (pagerank's pattern) so rounds reuse one
    cached edge RDD. Labels are doc_ids (BIGINT): no float state between
    rounds at any scale, so unlike pagerank no per-round rounding is even
    needed for cross-engine exactness."""

    def build() -> DataFrame:
        edges = _neardup_edges(spark, sf_dir)
        labels = edges.select(F.col("src").alias("doc")).distinct().withColumn(
            "lbl", F.col("doc")
        )
        for _ in range(LPA_ITERS):
            labels = (
                edges.join(labels, edges.src == labels.doc)
                .groupBy(F.col("dst"), F.col("lbl"))
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("dst")
                .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
                .select(F.col("dst").alias("doc"), (-F.col("m.nl")).alias("lbl"))
            )
        return (
            labels.groupBy(F.col("lbl").alias("community"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.col("n_docs").desc(), "community")
            .limit(50)
        )

    return session_memo(spark, sf_dir, "graph_label_propagation", build)

KCORE_K = 3
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peeling: each round drops nodes of degree < K and the
    edges touching them; the census row per round is the convergence
    trace (fixed point reached when two consecutive rows match).

    MATERIALIZED is load-bearing (same lesson as _bfs_oracle): DuckDB
    inlines plain CTEs, and every round references e{i-1} three times
    (degree, edge filter, census), so inlined the MinHash pairs pipeline
    re-expands ~3^ROUNDS times — measured 123 s at sf0.001 (it was the
    single slowest row in the whole pytest correctness suite);
    materialized it is sub-second."""
    ctes = [f"e0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED "
            f"(SELECT src, count(*) AS d FROM e{i - 1} GROUP BY src)"
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM d{i} WHERE d >= {KCORE_K})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i - 1} e "
            f"JOIN k{i} a ON a.src = e.src JOIN k{i} b ON b.src = e.dst)"
        )
    arms = "\n        UNION ALL ".join(
        f"SELECT {i} AS round, (SELECT count(DISTINCT src) FROM e{i}) AS n_nodes, "
        f"(SELECT count(*) FROM e{i}) // 2 AS n_edges"
        for i in range(KCORE_ROUNDS + 1)
    )
    return f"""
    WITH {_pairs_ctes()},
    {', '.join(ctes)}
    SELECT CAST(round AS BIGINT) AS round, n_nodes, n_edges FROM (
        {arms}
    ) ORDER BY round
    """


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=3) of the near-dup graph by iterative
    peeling — strip nodes with fewer than 3 surviving neighbors until a
    fixed point; what remains is the graph's DENSE core (for a near-dup
    graph: the heavily-templated families worth a human look, with the
    loose chains and stray pairs peeled away). The per-round census
    (nodes, edges remaining) is the output — the convergence trace
    itself, which is also how you read off whether ROUNDS sufficed
    (two equal consecutive rows = fixed point; this corpus's clique-like
    components converge in 1-2 rounds at every SF).

    Scale shape: a peel round = one degree aggregate (src-keyed
    partial-merge) + two semi-joins of the edge list against the ≥k node
    set — all linear keyed shuffles; each round's edge list is
    localCheckpoint-ed so round r+1 scans a cached RDD instead of
    replaying rounds 1..r (pagerank's iteration discipline). Census rows
    are 1-row aggregates unioned after the loop. Integer-only output."""

    def build() -> DataFrame:
        edges = _neardup_edges(spark, sf_dir)
        census = []
        cur = edges
        # LAZY per-round checkpoints (the HITS/CC r11 treatment): the round
        # count is fixed, so the single final union action materializes
        # every round's O(edges) checkpoint once in dependency order — one
        # job instead of one per peel round, same algebra (guide §2.4/§4).
        for i in range(KCORE_ROUNDS + 1):
            census.append(
                cur.agg(
                    F.countDistinct("src").alias("n_nodes"),
                    (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
                ).select(F.lit(i).cast("long").alias("round"), "n_nodes", "n_edges")
            )
            if i == KCORE_ROUNDS:
                break
            keep = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= KCORE_K)
                .select("src")
            )
            cur = (
                cur.join(keep, "src", "left_semi")
                .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
        out = census[0]
        for c in census[1:]:
            out = out.unionAll(c)
        return out.orderBy("round")

    return session_memo(spark, sf_dir, "graph_kcore", build)

BFS_ROUNDS = 4
BFS_SEED_MOD = 10  # seeds: near-dup-graph nodes with doc_id % 10 == 0
# (mod 10, not 100: the near-dup graph has only ~50 nodes at the sf0.01
#  gate scale — a sparser seed rule leaves the seed set EMPTY there and
#  the hash check would never exercise the traversal, only the
#  unreached remainder)


def _bfs_oracle() -> str:
    """Unrolled multi-source BFS: layer r = neighbors of layer r-1 not
    yet reached; the census counts nodes per layer plus the unreached
    remainder (-1)."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and every
    # d{r} references d{r-1} twice plus sym once — inlined, the chain
    # re-expands the whole MinHash pipeline ~3^rounds times (measured
    # ~90 s at ANY scale; materialized it is sub-second).
    ctes = [
        "symm AS MATERIALIZED (SELECT src, dst FROM sym)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src FROM symm)",
        "d0 AS MATERIALIZED "
        f"(SELECT src, 0 AS d FROM nodes WHERE src % {BFS_SEED_MOD} = 0)",
    ]
    for r in range(1, BFS_ROUNDS + 1):
        ctes.append(
            f"f{r} AS MATERIALIZED (SELECT DISTINCT e.dst AS src FROM symm e "
            f"JOIN d{r - 1} p ON p.src = e.src AND p.d = {r - 1} "
            f"WHERE e.dst NOT IN (SELECT src FROM d{r - 1}))"
        )
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT src, d FROM d{r - 1} "
            f"UNION ALL SELECT src, {r} FROM f{r})"
        )
    return f"""
    WITH {_pairs_ctes()},
    {', '.join(ctes)}
    SELECT CAST(layer AS BIGINT) AS layer, CAST(n_nodes AS BIGINT) AS n_nodes
    FROM (
        SELECT d AS layer, count(*) AS n_nodes FROM d{BFS_ROUNDS} GROUP BY d
        UNION ALL
        SELECT -1, count(*) FROM nodes
        WHERE src NOT IN (SELECT src FROM d{BFS_ROUNDS})
    ) WHERE n_nodes > 0 ORDER BY layer
    """


@query("graph_bfs_layers", oracle=_bfs_oracle())
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS layer census over the near-dup graph: distance
    from a deterministic seed set (doc_id % 10 == 0) to every reachable
    node, bounded at 4 hops — "how far does contamination propagate":
    if a seed doc is bad (spam template, leaked eval data), layer r
    counts the docs reachable through r near-dup links, and the
    unreached remainder (-1) is the clean mass. Multi-source is the
    production shape: one pass gives distance-to-NEAREST-seed for the
    whole seed set, not one traversal per seed.

    Scale shape: textbook distributed frontier expansion — each round is
    ONE edge⋈frontier equi-join + an anti-join against the visited set +
    a distinct, all linear keyed shuffles; visited and frontier are
    localCheckpoint-ed so round r never replays rounds 1..r-1 (the
    pagerank/kcore iteration discipline). Frontiers shrink as the
    components saturate (near-dup components are clique-like, diameter
    2-3), so later rounds cost ~nothing. Census output is O(rounds)."""

    def build() -> DataFrame:
        edges = _neardup_edges(spark, sf_dir)
        # LAZY checkpoints throughout (the HITS/CC r11 treatment): the hop
        # count is fixed, so the final census action materializes frontier
        # and visited checkpoints once each in dependency order — one job
        # instead of 2 per hop + 2 setup jobs, same algebra (guide §4).
        nodes = edges.select("src").distinct().localCheckpoint(eager=False)
        visited = nodes.filter(F.col("src") % BFS_SEED_MOD == 0).select(
            "src", F.lit(0).alias("d")
        ).localCheckpoint(eager=False)
        frontier = visited.select("src")
        for r in range(1, BFS_ROUNDS + 1):
            reached = (
                edges.join(frontier, "src")
                .select(F.col("dst").alias("src"))
                .distinct()
                .join(visited.select("src"), "src", "left_anti")
                .localCheckpoint(eager=False)
            )
            visited = visited.unionAll(
                reached.select("src", F.lit(r).alias("d"))
            ).localCheckpoint(eager=False)
            frontier = reached
        census = visited.groupBy(F.col("d").alias("layer")).agg(
            F.count(F.lit(1)).alias("n_nodes")
        )
        unreached = (
            nodes.join(visited.select("src"), "src", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.lit(-1).alias("layer"), "n_nodes")
        )
        return (
            census.unionAll(unreached)
            .filter(F.col("n_nodes") > 0)
            .select(F.col("layer").cast("long"), F.col("n_nodes").cast("long"))
            .orderBy("layer")
        )

    return session_memo(spark, sf_dir, "graph_bfs_layers", build)


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_CO_KNN_CTES},
    indeg AS (SELECT p2 AS node, count(*) AS ind FROM knn GROUP BY 1),
    e AS (
        SELECT coalesce(a.ind, 0) AS x, coalesce(b.ind, 0) AS y
        FROM knn LEFT JOIN indeg a ON a.node = knn.p1
                 LEFT JOIN indeg b ON b.node = knn.p2),
    m AS (
        SELECT count(*) AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x * y)::HUGEINT AS sxy,
               sum(x * x)::HUGEINT AS sxx, sum(y * y)::HUGEINT AS syy
        FROM e),
    f AS (
        SELECT n, sx, sy,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS dx,
               n * syy - sy * sy AS dy
        FROM m)
    SELECT CAST(n AS BIGINT) AS n_edges,
           CAST((2 * 1000000 * sx + n) // (2 * n) AS BIGINT) AS src_deg_e6,
           CAST((2 * 1000000 * sy + n) // (2 * n) AS BIGINT) AS dst_deg_e6,
           CASE WHEN dx = 0 OR dy = 0 THEN NULL ELSE
               (CASE WHEN num < 0 THEN -1 ELSE 1 END)
               * CAST((2 * 1000000 * num * num + dx * dy)
                      // (2 * dx * dy) AS BIGINT) END AS assort_r2_e6
    FROM f
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase kNN digraph — "do popular
    parts point at popular parts": the Pearson correlation of in-degrees
    across edge endpoints (Newman 2002), the one-number summary that
    separates hub-to-hub cores (assortative, r>0) from hub-and-spoke
    star topologies (disassortative, r<0) — which decides whether
    recommendation walks concentrate or diffuse. In-degree is the
    meaningful side on a top-M kNN graph (out-degree is truncation-
    constant by construction — correlating it would be vacuous).

    Pearson r is a DISTRIBUTIVE aggregate (the timeseries_trend_ols
    moment trick): one pass over edges with in-degrees joined on both
    endpoints folds (n, Σx, Σy, Σxy, Σx², Σy²), and the readout is the
    SIGNED r² in e6 (the events_ab_lift z² convention — r² = num²/(dx·dy)
    is exactly rational; r itself needs a sqrt, which has no place in a
    checked output). num² passes 10³⁴ at 30× — DECIMAL(38,0)/HUGEINT
    everywhere, sign split out of the DIV. Shape: the session-shared
    kNN edge memo (checkpointed top-10 lists, exploded) → one in-degree
    rollup broadcast-joined back to the ≤10·n edge list; every step is
    bounded by the kNN truncation, never by the raw co-occurrence fan."""
    knn = _knn_edges(spark, sf_dir)
    indeg = knn.groupBy(F.col("p2").alias("node")).agg(F.count(F.lit(1)).alias("ind"))
    e = (
        knn.join(indeg.withColumnRenamed("node", "p1"), "p1", "left")
        .withColumnRenamed("ind", "x0")
        .join(
            indeg.withColumnRenamed("node", "p2").withColumnRenamed("ind", "y0"),
            "p2",
            "left",
        )
        .select(
            F.coalesce("x0", F.lit(0)).alias("x"),
            F.coalesce("y0", F.lit(0)).alias("y"),
        )
    )
    m = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    f = m.select(
        "n",
        F.expr("CAST(sx AS DECIMAL(38,0))").alias("sxd"),
        F.expr("CAST(sy AS DECIMAL(38,0))").alias("syd"),
        F.expr("CAST(n * sxy - sx * sy AS DECIMAL(38,0))").alias("num"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("dx"),
        F.expr("CAST(n * syy - sy * sy AS DECIMAL(38,0))").alias("dy"),
    )
    return f.select(
        F.col("n").cast("long").alias("n_edges"),
        F.expr("CAST((2 * 1000000 * sxd + n) DIV (2 * n) AS BIGINT)").alias(
            "src_deg_e6"
        ),
        F.expr("CAST((2 * 1000000 * syd + n) DIV (2 * n) AS BIGINT)").alias(
            "dst_deg_e6"
        ),
        F.expr(
            """CASE WHEN dx = 0 OR dy = 0 THEN NULL ELSE
               (CASE WHEN num < 0 THEN -1L ELSE 1L END)
               * CAST((2 * 1000000 * num * num + dx * dy)
                      DIV (2 * dx * dy) AS BIGINT) END"""
        ).alias("assort_r2_e6"),
    )


HITS_ROUNDS = 3
HITS_TOPK = 15


def _hits_oracle() -> str:
    ctes = [
        _CO_KNN_CTES.strip().rstrip(","),
        """n0 AS (SELECT DISTINCT p1 AS node FROM knn
             UNION SELECT DISTINCT p2 FROM knn)""",
        "h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM n0)",
    ]
    for r in range(1, HITS_ROUNDS + 1):
        ctes.append(
            f"a{r}r AS MATERIALIZED (SELECT k.p2 AS node, sum(h.s) AS s "
            f"FROM knn k JOIN h{r - 1} h ON h.node = k.p1 GROUP BY 1)"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT node, "
            f"CAST((2 * 1000000 * s + m) // (2 * m) AS BIGINT) AS s "
            f"FROM a{r}r, (SELECT max(s) AS m FROM a{r}r))"
        )
        ctes.append(
            f"h{r}r AS MATERIALIZED (SELECT k.p1 AS node, sum(a.s) AS s "
            f"FROM knn k JOIN a{r} a ON a.node = k.p2 GROUP BY 1)"
        )
        ctes.append(
            f"h{r} AS MATERIALIZED (SELECT node, "
            f"CAST((2 * 1000000 * s + m) // (2 * m) AS BIGINT) AS s "
            f"FROM h{r}r, (SELECT max(s) AS m FROM h{r}r))"
        )
    last = HITS_ROUNDS
    return f"""
    WITH {', '.join(ctes)}
    SELECT node, auth_e6, hub_e6, rk FROM (
        SELECT a.node, CAST(a.s AS BIGINT) AS auth_e6,
               CAST(coalesce(h.s, 0) AS BIGINT) AS hub_e6,
               row_number() OVER (ORDER BY a.s DESC, a.node) AS rk
        FROM a{last} a LEFT JOIN h{last} h USING (node))
    WHERE rk <= {HITS_TOPK} ORDER BY rk
    """


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg '99) on the co-purchase kNN
    digraph: authorities are parts many top-10 partner lists POINT AT
    (the staples everything co-sells with), hubs are parts whose lists
    point at strong authorities (the basket-connectors). PageRank on
    this repo ranks by a single diffusion; HITS separates the two roles
    via the ALTERNATING fixpoint a = Aᵀh, h = A·a — the second iterative
    spectral operator, and the mutually-recursive one.

    Same exactness discipline as sim_power_iteration: scores live on an
    e6 integer lattice, every half-round is one edge⋈score equi-join +
    one partial-merged sum (exact BIGINT — scores ≤ 10⁶, fan-in bounded
    by the kNN truncation), and the max-abs normalization is a 1-row
    aggregate broadcast into the plan with round-half-up DIV (all
    nonnegative — no sign cases). {HITS_ROUNDS} rounds unrolled in the
    DuckDB oracle, bitwise. Per round the only shuffles are the two
    keyed joins over the ≤10·n edge list; score tables checkpoint at
    O(nodes) so round k never replays round k−1's lineage."""
    from pyspark.sql import Window as W

    knn = _knn_edges(spark, sf_dir)
    nodes = (
        knn.select(F.col("p1").alias("node"))
        .union(knn.select(F.col("p2").alias("node")))
        .distinct()
    )
    h = nodes.selectExpr("node", "CAST(1000000 AS LONG) AS s")
    a = None
    # string-expression construction + LAZY per-round checkpoints: the
    # round count is fixed (no convergence collect), so the single final
    # action materializes every round's O(nodes) checkpoint once — one
    # job instead of 2·rounds, and ~half the py4j plan-construction round
    # trips per loop iteration (guide §4). Same algebra, same DIV
    # rounding, oracle hash unchanged.
    for _ in range(HITS_ROUNDS):
        a_raw = (
            knn.join(h.withColumnRenamed("node", "p1"), "p1")
            .groupBy("p2")
            .agg(F.expr("sum(s) AS sr"))
        )
        am = a_raw.agg(F.expr("max(sr) AS m"))
        a = (
            a_raw.crossJoin(F.broadcast(am))  # 1-row scalar broadcast
            .selectExpr("p2 AS node", "(2 * 1000000 * sr + m) DIV (2 * m) AS s")
            .localCheckpoint(eager=False)  # O(nodes)
        )
        h_raw = (
            knn.join(a.withColumnRenamed("node", "p2"), "p2")
            .groupBy("p1")
            .agg(F.expr("sum(s) AS sr"))
        )
        hm = h_raw.agg(F.expr("max(sr) AS m"))
        h = (
            h_raw.crossJoin(F.broadcast(hm))
            .selectExpr("p1 AS node", "(2 * 1000000 * sr + m) DIV (2 * m) AS s")
            .localCheckpoint(eager=False)
        )
    top = (
        a.withColumnRenamed("s", "auth_e6")
        .join(h.withColumnRenamed("s", "hub_e6"), "node", "left")
        .select(
            "node", "auth_e6", F.coalesce("hub_e6", F.lit(0)).alias("hub_e6")
        )
        .orderBy(F.col("auth_e6").desc(), "node")
        .limit(HITS_TOPK)  # TakeOrdered heap — never a global sort
    )
    w = W.orderBy(F.col("auth_e6").desc(), "node")  # over ≤{k} rows post-limit
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long"))
        .select("node", "auth_e6", "hub_e6", "rk")
        .orderBy("rk")
    )


@query(
    "graph_reciprocity",
    oracle=f"""
    WITH {_CO_KNN_CTES},
    r AS (
        SELECT count(*) AS n_edges,
               sum(CASE WHEN EXISTS (SELECT 1 FROM knn b
                                     WHERE b.p1 = knn.p2 AND b.p2 = knn.p1)
                        THEN 1 ELSE 0 END) AS n_recip
        FROM knn)
    SELECT CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_recip AS BIGINT) AS n_reciprocal,
           CAST((2000000 * n_recip + n_edges) // (2 * n_edges) AS BIGINT)
               AS reciprocity_e6
    FROM r
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the co-purchase kNN digraph — the fraction of
    "a's top partners include b" edges where b's list returns the favor:
    high reciprocity says the truncated graph behaves like an undirected
    similarity graph (symmetric algorithms are safe on it); low
    reciprocity says the top-M cut is asymmetric and any undirected
    reading double-counts hubs. The one-number companion to
    graph_degree_assortativity for deciding how to TREAT the kNN graph,
    measured before pagerank/HITS/community runs assume either way.

    Shape: the session-shared kNN edge list self-joins on the swapped
    key pair — a LEFT SEMI join (one keyed shuffle of ≤10·n rows), then
    a single fold to (edges, reciprocal, e6 share). The oracle states
    the same thing as an EXISTS."""
    knn = _knn_edges(spark, sf_dir)
    swapped = knn.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    recip = knn.join(swapped, ["p1", "p2"], "left_semi")
    n = knn.agg(F.count(F.lit(1)).alias("n_edges"))
    r = recip.agg(F.count(F.lit(1)).alias("n_recip"))
    return n.crossJoin(r).select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_recip").cast("long").alias("n_reciprocal"),
        F.expr(
            "CAST((2000000 * n_recip + n_edges) DIV (2 * n_edges) AS BIGINT)"
        ).alias("reciprocity_e6"),
    )


def _modularity_oracle() -> str:
    """Newman modularity over the LPA partition, all-integer: with the
    symmetric edge list (two_m rows), intra2_c = directed intra-community
    edge count and degsum_c = per-community degree mass,
    Q = (two_m·Σintra2 − Σdegsum²) / two_m² — emitted as separate BIGINT
    numerator/denominator (no float, and no DIV: Spark truncates toward
    zero while DuckDB floors, which diverges on negative numerators).
    MATERIALIZED everywhere sym/l{i} is referenced more than once — the
    kcore lesson."""
    steps = []
    for i in range(1, LPA_ITERS + 1):
        steps.append(f"""l{i} AS MATERIALIZED (
        SELECT doc, lbl FROM (
            SELECT e.dst AS doc, p.lbl, count(*) AS c,
                   row_number() OVER (PARTITION BY e.dst
                                      ORDER BY count(*) DESC, p.lbl) AS rn
            FROM symm e JOIN l{i - 1} p ON p.doc = e.src
            GROUP BY e.dst, p.lbl)
        WHERE rn = 1)""")
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_pairs_ctes()},
    symm AS MATERIALIZED (SELECT src, dst FROM sym),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS doc, src AS lbl FROM symm),
    {chain},
    el AS MATERIALIZED (
        SELECT ls.lbl AS cs, ld.lbl AS cd
        FROM symm e
        JOIN l{LPA_ITERS} ls ON ls.doc = e.src
        JOIN l{LPA_ITERS} ld ON ld.doc = e.dst),
    intra AS (SELECT cs AS c, count(*) AS intra2 FROM el WHERE cs = cd GROUP BY 1),
    deg AS (SELECT cs AS c, count(*) AS degsum FROM el GROUP BY 1),
    agg AS (SELECT (SELECT count(*) FROM el) AS two_m,
                   (SELECT count(*) FROM deg) AS n_communities,
                   (SELECT sum(intra2) FROM intra) AS sum_intra2,
                   (SELECT sum(degsum * degsum) FROM deg) AS sum_deg_sq)
    SELECT CAST(two_m AS BIGINT) AS two_m,
           CAST(n_communities AS BIGINT) AS n_communities,
           CAST(sum_intra2 AS BIGINT) AS sum_intra2,
           CAST(sum_deg_sq AS BIGINT) AS sum_deg_sq,
           CAST(two_m * sum_intra2 - sum_deg_sq AS BIGINT) AS q_num,
           CAST(two_m * two_m AS BIGINT) AS q_den
    FROM agg
    """


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the LPA partition (Newman 2006) — the quality
    score that tells you whether the community structure the label
    propagation found is real or noise (Q near 0 = no better than a
    random degree-preserving rewiring; the near-dup graph's template
    families should score high). Computed EXACTLY on the integer
    lattice: Q = (2m·Σ_c intra2_c − Σ_c degsum_c²) / (2m)², emitted as
    BIGINT numerator/denominator so no float — and no integer DIV,
    whose negative-operand rounding differs between engines (Spark
    truncates, DuckDB floors). One row out.

    Scale shape: the label map joins onto the checkpointed symmetric
    edge list twice (src- then dst-keyed shuffles, both |E| rows of two
    BIGINTs); everything after is community-sized aggregates. The LPA
    labels (the census query's rounds) are a session frame, so scoring
    adds two joins and three aggregates to an already-materialized
    partition."""

    def build() -> DataFrame:
        edges = _neardup_edges(spark, sf_dir)

        def lpa() -> DataFrame:
            labels = edges.select(F.col("src").alias("doc")).distinct().withColumn(
                "lbl", F.col("doc")
            )
            for _ in range(LPA_ITERS):
                labels = (
                    edges.join(labels, edges.src == labels.doc)
                    .groupBy(F.col("dst"), F.col("lbl"))
                    .agg(F.count(F.lit(1)).alias("c"))
                    .groupBy("dst")
                    .agg(
                        F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m")
                    )
                    .select(F.col("dst").alias("doc"), (-F.col("m.nl")).alias("lbl"))
                )
            return labels

        labels = session_frame(spark, sf_dir, "modularity_lpa_labels", lpa)
        ls = labels.select(F.col("doc").alias("src"), F.col("lbl").alias("cs"))
        ld = labels.select(F.col("doc").alias("dst"), F.col("lbl").alias("cd"))
        el = edges.join(ls, "src").join(ld, "dst").select("cs", "cd")
        intra = (
            el.filter(F.col("cs") == F.col("cd"))
            .groupBy("cs")
            .agg(F.count(F.lit(1)).alias("intra2"))
        )
        deg = el.groupBy("cs").agg(F.count(F.lit(1)).alias("degsum"))
        return (
            el.agg(F.count(F.lit(1)).alias("two_m"))
            .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_communities")))
            .crossJoin(intra.agg(F.sum("intra2").alias("sum_intra2")))
            .crossJoin(
                deg.agg(F.sum(F.col("degsum") * F.col("degsum")).alias("sum_deg_sq"))
            )
            .select(
                "two_m",
                "n_communities",
                "sum_intra2",
                "sum_deg_sq",
                (F.col("two_m") * F.col("sum_intra2") - F.col("sum_deg_sq")).alias(
                    "q_num"
                ),
                (F.col("two_m") * F.col("two_m")).alias("q_den"),
            )
        )

    return session_memo(spark, sf_dir, "graph_modularity", build)


_CC_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_co
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           GROUP BY 1, 2),
    e AS (SELECT p1 AS u, p2 AS v FROM co WHERE n_co >= 2),
    n AS (SELECT DISTINCT u FROM e),
    reach AS (
      WITH RECURSIVE reach(u, l) AS (
        SELECT u, u FROM n
        UNION
        SELECT e.u, reach.l FROM e JOIN reach ON reach.u = e.v)
      SELECT * FROM reach),
    lab AS (SELECT u, min(l) AS lbl FROM reach GROUP BY u),
    sizes AS (SELECT lbl, count(*) AS sz FROM lab GROUP BY lbl),
    h1 AS (SELECT sz, count(*) AS n_components, sum(lbl) AS sum_component_id
           FROM sizes GROUP BY sz),
    h2 AS (SELECT s.sz, sum(l.u * l.lbl) AS sum_u_lbl
           FROM lab l JOIN sizes s USING (lbl) GROUP BY s.sz)
    SELECT CAST(h1.sz AS BIGINT) AS comp_size,
           CAST(n_components AS BIGINT) AS n_components,
           CAST(sum_component_id AS BIGINT) AS sum_component_id,
           CAST(sum_u_lbl AS BIGINT) AS sum_u_lbl
    FROM h1 JOIN h2 ON h1.sz = h2.sz
    ORDER BY comp_size
"""


@query("graph_connected_components", oracle=_CC_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by ALTERNATING STAR CONTRACTION (the
    large-star/small-star algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) over the co-purchase
    graph (edges = part pairs bought together in >= 2 orders).

    Why a second CC operator: dedup_clusters closes its components with
    min-label propagation — O(diameter) rounds, fine on shallow dedup
    clusters but a 1000-round death march on a 100 TB graph with a long
    chain. Star contraction converges in O(log n) rounds REGARDLESS of
    diameter: large-star hooks every node above its neighborhood
    minimum onto that minimum, small-star flattens the resulting
    trees. Each round is two keyed shuffles (groupBy-min + join) plus a
    distinct; per-round state is the edge list itself, localCheckpointed
    so the lineage stays O(1). Convergence is detected from an O(1)
    integer checksum collect per round — never a driver-side edge list.
    The sf ladder exercises genuinely different regimes: one giant
    200-node component at sf0.001, a 1860-node giant + 8 satellites at
    sf0.01, 2350 micro-components at sf0.1.

    The DuckDB oracle closes the SAME thresholded graph with a recursive
    reachability CTE and min-reduces labels — an O(sum comp^2) closure
    that works at test scale and NOT at 100 TB, which is exactly the
    point of shipping the contraction. Output is the component-size
    census with two label checksums (sum of component ids, sum of
    u*label) so a wrong merge, split, or label assignment reddens the
    hash. All cells BIGINT.

    Reference analogue: none (iterative graph extension, SURVEY §2.12).
    """

    def build() -> DataFrame:
        co = _co_table(spark, sf_dir)
        # symmetric directed pairs, both orientations present already
        edges = session_frame(
            spark,
            sf_dir,
            "cc_star_edges",
            lambda: co.filter(F.col("n_co") >= 2).select(
                F.col("p1").alias("u"), F.col("p2").alias("v")
            ),
        )
        nodes = session_frame(
            spark, sf_dir, "cc_star_nodes", lambda: edges.select(F.col("u")).distinct()
        )

        # Per-round plumbing is STRING-expression form (selectExpr /
        # F.expr): each selectExpr is ONE py4j round trip that parses on
        # the JVM, vs ~4 per aliased Column — this loop ran 8+ rounds and
        # plan CONSTRUCTION (not execution) was 11.7s of its 12.6s wall
        # (guide §4: control how the boundary is crossed). Same algebra,
        # same fixpoint, oracle hash unchanged.
        def checksum(e: DataFrame) -> tuple:
            row = e.selectExpr(
                "count(*) AS n",
                "coalesce(sum(u), 0) AS su",
                "coalesce(sum(v), 0) AS sv",
                "coalesce(sum(u * v), 0) AS suv",
            ).collect()[0]
            return (row["n"], row["su"], row["sv"], row["suv"])

        def symmetric(e: DataFrame) -> DataFrame:
            return e.selectExpr("u", "v").union(
                e.selectExpr("v AS u", "u AS v")
            ).distinct()

        prev = None
        for _ in range(24):  # O(log n) bound; 24 >> log2(any test corpus)
            sym = symmetric(edges)
            # large-star: hook strictly-larger neighbors onto the
            # neighborhood minimum (min over Γ(u) ∪ {u})
            lmin = sym.groupBy("u").agg(F.expr("least(min(v), u) AS m"))
            ls = (
                sym.join(lmin, "u")
                .where("v > u")
                .selectExpr("v AS u", "m AS v")
                .where("u != v")
            )
            # small-star: orient edges toward the smaller endpoint, hook
            # every smaller neighbor (and u itself) onto min(Γ⁻(u))
            d = ls.selectExpr("greatest(u, v) AS u", "least(u, v) AS v").distinct()
            smin = d.groupBy("u").agg(F.expr("min(v) AS m"))
            ss = (
                d.join(smin, "u")
                .selectExpr("v AS u", "m AS v")
                .union(smin.selectExpr("u", "m AS v"))
                .where("u != v")
            )
            # lazy checkpoint: the checksum collect right below is the
            # materializing action, so each round runs ONE job, not two
            edges = (
                ss.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
                .distinct()
                .localCheckpoint(eager=False)
            )
            cur = checksum(edges)
            if cur == prev:
                break
            prev = cur
        else:  # pragma: no cover - 24 rounds never reached on any corpus
            raise RuntimeError("graph_connected_components: no fixpoint in 24 rounds")

        # fixpoint: every edge is (member, component-min). Centers label
        # themselves; the node set must round-trip exactly.
        labels = (
            nodes.join(edges.withColumnRenamed("v", "lbl"), "u", "left")
            .select("u", F.coalesce("lbl", F.col("u")).alias("lbl"))
        )
        sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
        h1 = sizes.groupBy("sz").agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("lbl").alias("sum_component_id"),
        )
        h2 = (
            labels.join(sizes, "lbl")
            .groupBy("sz")
            .agg(F.sum(F.col("u") * F.col("lbl")).alias("sum_u_lbl"))
        )
        return (
            h1.join(h2, "sz")
            .select(
                F.col("sz").cast("long").alias("comp_size"),
                F.col("n_components").cast("long").alias("n_components"),
                F.col("sum_component_id").cast("long").alias("sum_component_id"),
                F.col("sum_u_lbl").cast("long").alias("sum_u_lbl"),
            )
            .orderBy("comp_size")
        )

    return session_memo(spark, sf_dir, "graph_connected_components", build)
