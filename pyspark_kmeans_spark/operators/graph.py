"""Graph analytics over the document near-dup graph (north-star extension).

The LLM-curation use case: documents are nodes, near-duplicate relations
are edges, and link-structure centrality (PageRank) ranks "hub" documents —
boilerplate templates and mirrored pages concentrate rank, which makes the
score a useful curation signal alongside the text-quality features.

Design (Spark-first, deterministic, oracle-checkable):

 - The edge list is the exact-Jaccard near-dup pair graph
   (`dedup.jaccard_pairs`, symmetric closure), so the whole query is
   SQL-expressible and the DuckDB oracle replays it exactly.  Round 8:
   the edge list is a WRITE-ONCE warehouse artifact
   (`ensure_pairs_table`) — mined once per (sf_dir, threshold), read by
   every graph query thereafter; the oracles keep replaying the mining
   from the raw table, so a stale or mismatched artifact hashes red.
 - PageRank runs a FIXED number of power-iteration rounds (no float
   convergence test — a data-dependent stopping rule can differ across
   engines by one ulp and change the round count).  Each round is one
   edge⋈rank equi-join + one grouped sum; per-edge contributions are
   deterministic double arithmetic and the incoming-mass sum goes through
   DECIMAL, so the result is independent of partitioning and engine.
 - Dangling nodes (documents with no near-dup edges) keep the teleport
   term only — their outgoing mass is dropped, the standard simplification,
   applied identically in the oracle.
 - The plan is linear in the iteration count (each round references the
   previous rank frame once); no checkpoint/action is triggered at
   DataFrame-construction time beyond the one-time pair-table build the
   ensure_* contract prices as an ingest cost (construction is job-free
   once the artifact exists — the same first-touch semantics as
   dedup_incremental_lsh's signature table).

At 100 TB the edge list is the LSH pair graph instead (same schema — swap
`jaccard_pairs` for `minhash_lsh_pairs`, exactly as `dedup_clusters_lsh`
does for connected components); every round is two linear shuffles on node
id, and the node frame is re-used across rounds.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_kmeans_spark.functions.persist import (
    registered_persist,
    release_persisted,
)
from pyspark_kmeans_spark.functions.warehouse_memo import (
    artifact_path,
    ensure_artifact,
    fold_artifact,
)
from pyspark_kmeans_spark.operators.dedup import (
    _prefix_candidates,
    _prefix_frame,
    _verify_jaccard,
    jaccard_pairs,
    tokens_col,
)
from pyspark_kmeans_spark.sources.tables import load_table

PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 5
# Per-edge contributions are ranks (≤1) split over degrees: 15 fractional
# digits keeps the DECIMAL sum exact far below the final 12-dp rounding.
_DEC = T.DecimalType(28, 15)

GRAPH_PAIR_THRESHOLD = 0.9


def ensure_pairs_table(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold: float = GRAPH_PAIR_THRESHOLD,
) -> DataFrame:
    """Materialize ONCE per (sf_dir, threshold) the exact near-dup pair
    graph (doc_a, doc_b) and return the parquet read — the write-once
    artifact contract the engine already applies to signatures, digests
    and the codebook, now covering the graph family's edge list
    (round 8).

    Before this, every graph query (PageRank, degrees, two triangle
    forms) re-ran the full pair-mining job per execution — 4-28 s each
    at sf0.1, and at 100 TB the dominant cost of every analytics read.
    A production system mines the edge list once at ingest/curation time
    and serves every downstream graph read from it; the analytics then
    pay only their own joins.  The threshold is part of the cache name
    (the ensure_signature_table contract), so a threshold change
    rebuilds instead of silently reusing mismatched edges.  Pair mining
    is deterministic (exact Jaccard over distinct token sets), so the
    artifact equals the inline frame row-for-row — pinned in
    tests/test_graph.py, and every graph oracle still replays the mining
    in SQL from the raw table."""
    # Path from _graph_state_paths — ONE name derivation for the build
    # and the append fold (a divergence would orphan or double-build
    # artifacts silently).
    path, _, _ = _graph_state_paths(sf_dir, threshold)
    # No content stamp on this memo: the pair table is never rewritten in
    # place (a threshold change changes the path) — its ONE sanctioned
    # mutation is the append-only batch fold (`append_pairs_table`), whose
    # fold_artifact drops the memo and Spark's file listing itself, so a
    # stale handle cannot survive a same-session fold.  Cross-session
    # concurrent append+read is out of scope (the signature-table
    # contract).
    return ensure_artifact(
        spark,
        path,
        lambda p: jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold=threshold
        )
        .select("doc_a", "doc_b")
        .write.mode("overwrite")
        .parquet(p),
    )


def _graph_state_paths(
    sf_dir: str, threshold: float
) -> tuple[str, str, str]:
    """(pairs, prefix-state, token-freq) artifact paths for one
    (sf_dir, threshold) — the graph family's warehouse name derivation,
    single-sourced for the build (ensure_pairs_table) and the fold
    (append_pairs_table).

    Lossless threshold encoding (round-8 review finding: int(t*100)
    truncates float error, so 0.56 and 0.57 collided on one cache path
    and the write-once contract would have served mismatched edges
    forever).  repr round-trips every float exactly; sanitize for the
    path."""
    import re

    t_tag = re.sub(r"[^0-9a-zA-Z]", "_", repr(threshold))
    return tuple(
        artifact_path(f"neardup_{kind}_t{t_tag}", sf_dir)
        for kind in ("pairs", "state", "freq")
    )


def ensure_graph_state(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold: float = GRAPH_PAIR_THRESHOLD,
) -> tuple[DataFrame, DataFrame]:
    """(prefix-state, token-freq) write-once artifacts backing incremental
    pair-table maintenance (VERDICT r8 missing #4): the corpus side of a
    batch fold, precomputed once — the `ensure_signature_table` contract
    applied to the EXACT mining path.  State rows are the prefix-filter
    frame (`dedup._prefix_frame` over the corpus, ordered by the freq
    table); freq is the (token, df) table that fixes the shared total
    order for every later fold, deliberately immutable across folds (stale
    frequencies cost pruning power, never edges — see `_prefix_frame`).
    Built lazily on first fold; the analytics queries never read them."""
    _, state_path, freq_path = _graph_state_paths(sf_dir, threshold)

    # The state's commit marker covers both: freq is written first, so a
    # committed state always has its freq beside it.
    def write(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        base = docs.select(
            "doc_id",
            F.col("lang").alias("_block"),
            tokens_col("text").alias("_toks"),
        )
        base.select(F.explode("_toks").alias("_tok")).groupBy("_tok").agg(
            F.count(F.lit(1)).alias("_df")
        ).write.mode("overwrite").parquet(freq_path)
        freq = spark.read.parquet(freq_path)
        _prefix_frame(base, threshold, "doc_id", freq=freq).write.mode(
            "overwrite"
        ).parquet(path)

    return ensure_artifact(
        spark,
        state_path,
        write,
        lambda path: (spark.read.parquet(path), spark.read.parquet(freq_path)),
    )


def mine_incremental_edges(
    state: DataFrame,
    bpref: DataFrame,
    *,
    threshold: float = GRAPH_PAIR_THRESHOLD,
) -> DataFrame:
    """New edges contributed by a prepared batch prefix frame against the
    persisted state: (batch×state ∪ batch×batch) exact-Jaccard pairs ≥
    threshold in sorted (doc_a < doc_b) orientation.  Both inputs are
    `dedup._prefix_frame` frames under the SAME persisted total order;
    `bpref` should be persisted by the caller (it feeds both candidate
    sides and the verify arrays).  Candidates come from
    `dedup._prefix_candidates(bpref, state)` and are verified by
    `dedup._verify_jaccard` — the join jaccard_pairs and incremental_kept
    run.  Factored out of `append_pairs_table` so the plan-shape golden
    can pin the batch-adjacent pruning (tests/test_graph.py) without
    running the artifact writes.

    Plan contract (the 100 TB shape): the state's prefix explode is
    semi-joined MAP-SIDE against the broadcast batch prefix-key set
    before any shuffle, and verify token arrays ship only for the
    candidate-adjacent id slice — the corpus contributes one map-side
    scan, never a corpus-scale exchange."""
    candidates = registered_persist(
        _prefix_candidates(bpref, state, threshold, "doc_id")
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    candidates.count()  # eager: feeds the id prune and both verify joins
    # Verify only the candidate-adjacent state slice: token arrays ship
    # for candidate ids, never the whole corpus (bounded by candidate
    # volume — batch-adjacent by the prune above).
    cand_ids = candidates.select(F.col("doc_a").alias("doc_id")).unionByName(
        candidates.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    side = (
        state.unionByName(bpref)
        .select("doc_id", F.col("_ts").alias("toks"), F.col("_n").alias("n"))
        .join(F.broadcast(cand_ids), on="doc_id", how="left_semi")
        .hint("shuffle_hash")
    )
    return (
        _verify_jaccard(candidates, side, side, threshold, "doc_id")
        .select("doc_a", "doc_b")
        # Collapse verify-join row duplication from a retry-duplicated
        # state copy (see append_pairs_table's commit-order paragraph).
        .dropDuplicates(["doc_a", "doc_b"])
    )


def append_pairs_table(
    spark: SparkSession,
    sf_dir: str,
    batch: DataFrame,
    *,
    threshold: float = GRAPH_PAIR_THRESHOLD,
) -> DataFrame:
    """Fold a document batch into the persisted near-dup edge artifact:
    mine batch×corpus + batch×batch edges against the persisted
    prefix-state, append them, and return the refreshed pair-table read —
    so a daily batch pays candidate volume |batch|-proportional work
    instead of re-mining the full edge list (at 100 TB the re-mine is the
    dominant cost the artifact exists to avoid; this is the
    `incremental_kept_against` shape applied to edge MAINTENANCE).

    Exactness: candidates come from the prefix lemma under the SHARED
    persisted (df, token) total order (`dedup._prefix_frame` with the
    persisted freq table — corpus state rows and batch rows are ordered
    by the same function, which is all the lemma requires; see its
    docstring on why stale frequencies cost pruning power, never edges),
    then every candidate is verified with a full array_intersect — so artifact-after-fold equals a full re-mine
    on the union corpus row-for-row (`pairs_update_check` driver-hashes
    exactly that).  Batch ids must be disjoint from the corpus ids (the
    ingest contract all incremental families share).

    Plan: only the BATCH is tokenized (one freq join, batch-linear).  The
    corpus side never enters a shuffle at corpus scale: the state's
    prefix explode is pruned MAP-SIDE against the broadcast batch
    prefix-key set inside `dedup._prefix_candidates` (the batch-adjacency
    prune `incremental_kept_against` applies to band entries — a bucket
    that shares no batch prefix token can never produce a candidate),
    which also runs the size prune and the PPJoin positional filter, and
    the verify joins read token arrays only for the candidate-adjacent
    slice (broadcast semi-join on the bounded candidate id set).  The residual
    corpus-sized work is one map-side parquet SCAN of the state —
    measured exponent 0.17 vs 0.71 for the per-batch re-mine
    (BASELINE.md round 9).  shuffle_hash hints on every explode-derived
    side (the static-estimate hazard jaccard_pairs documents).

    Each append is a staged commit (`fold_artifact`): a failed Spark
    write leaves the live artifact untouched.  Commit order is
    state-then-edges: if the edge append fails, a retry
    re-mines against a state that already contains the batch — the same
    pairs regenerate (self-pairs filter out on id inequality; the
    duplicate state copy of a batch doc can duplicate verify-join rows,
    which the final dropDuplicates collapses), so the retry cannot write
    duplicate edges.  The reverse order would duplicate edges on every
    retry.  Repeated retries do accumulate duplicate batch rows in the
    STATE (inflating later folds' candidate work, never their output);
    an operator recovering from repeated failures should restore the
    state artifact from its last good copy."""
    pairs_path, state_path, _ = _graph_state_paths(sf_dir, threshold)
    # First touch builds both the pair table and the state from the
    # current corpus (the ensure_* contract prices it as ingest cost).
    ensure_pairs_table(spark, sf_dir, threshold=threshold)
    state, freq = ensure_graph_state(spark, sf_dir, threshold=threshold)

    base = batch.select(
        "doc_id",
        F.col("lang").alias("_block"),
        tokens_col("text").alias("_toks"),
    )
    bpref = registered_persist(
        _prefix_frame(base, threshold, "doc_id", freq=freq)
    )
    bpref.count()  # eager: feeds state append, both candidate sides, verify
    new_edges = mine_incremental_edges(state, bpref, threshold=threshold)
    fold_artifact(spark, state_path, bpref)
    fold_artifact(spark, pairs_path, new_edges)
    return spark.read.parquet(pairs_path)


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "doc_id",
    damping: float = PAGERANK_DAMPING,
    iterations: int = PAGERANK_ITERATIONS,
) -> DataFrame:
    """Fixed-iteration PageRank → (id_col, pagerank) over a directed edge
    list (`src`, `dst`).  For an undirected graph pass the symmetric
    closure.  Deterministic: DECIMAL-summed incoming mass, fixed round
    count, shared literals with the SQL oracle."""
    n_frame = nodes.agg(F.count(F.lit(1)).alias("_n"))
    # 1-row scalar cross (bounded BNLJ, same pattern as the Q22 threshold):
    # N reaches every node without a driver-side action at plan time.
    base = nodes.select(id_col).join(F.broadcast(n_frame))
    ranks = base.select(
        id_col, (F.lit(1.0) / F.col("_n")).alias("rank"), "_n"
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # The degree-annotated edge list is consumed once per round: without a
    # persist, EVERY round re-runs the whole upstream edge-mining pipeline
    # (for the near-dup graph that is the full pair-mining job × rounds —
    # measured 5-6× the single-pass cost at sf0.1).  registered_persist is
    # lazy, so plan-only consumers still trigger no job; the registry
    # frees it when the next registered query runs.
    out = registered_persist(edges.join(deg, on="src"))
    teleport = F.lit(1.0 - damping) / F.col("_n")
    for _ in range(iterations):
        contribs = out.join(
            ranks.select(F.col(id_col).alias("src"), "rank"), on="src"
        ).select("dst", (F.col("rank") / F.col("_deg")).alias("_c"))
        mass = contribs.groupBy("dst").agg(
            F.sum(F.col("_c").cast(_DEC)).cast("double").alias("_m")
        )
        ranks = ranks.join(
            mass, ranks[id_col] == mass.dst, "left"
        ).select(
            id_col,
            (teleport + F.lit(damping) * F.coalesce("_m", F.lit(0.0))).alias(
                "rank"
            ),
            "_n",
        )
    return ranks.select(id_col, F.round("rank", 12).alias("pagerank"))


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact near-dup pair graph (threshold 0.9), all
    documents as nodes (dangling docs keep the teleport rank).  Edges
    come from the PERSISTED pair table (`ensure_pairs_table` — round 8:
    previously every graph query re-mined the pair graph per run)."""
    release_persisted()
    docs = load_table(spark, sf_dir, "documents")
    pairs = ensure_pairs_table(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return pagerank(docs.select("doc_id"), edges)


def _pagerank_sql(damping: float, iterations: int) -> str:
    """Unrolled power iteration: one CTE per round — plain ANSI SQL (a
    recursive CTE with per-round aggregation is not portable), generated
    from the same damping/iteration/threshold constants the Spark side
    uses."""
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs_sql

    pairs_sql = jaccard_pairs_sql(GRAPH_PAIR_THRESHOLD)

    rounds = []
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        rounds.append(f"""
        m{i} AS (
            SELECT e.dst AS doc_id,
                   CAST(SUM(CAST(r.rank / deg._deg AS DECIMAL(28,15))) AS DOUBLE) AS m
            FROM e
            JOIN {prev} r ON e.src = r.doc_id
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ),
        r{i} AS (
            SELECT d.doc_id,
                   {1.0 - damping} / n.n + {damping} * COALESCE(m{i}.m, 0.0) AS rank
            FROM (SELECT doc_id FROM documents) d
            CROSS JOIN n
            LEFT JOIN m{i} ON d.doc_id = m{i}.doc_id
        )""")
    return f"""
        WITH pairs AS ({pairs_sql}),
        e AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        deg AS (SELECT src, COUNT(*) AS _deg FROM e GROUP BY src),
        n AS (SELECT COUNT(*) AS n FROM documents),
        r0 AS (
            SELECT doc_id, 1.0 / n.n AS rank
            FROM documents CROSS JOIN n
        ),{",".join(rounds)}
        SELECT doc_id, ROUND(rank, 12) AS pagerank FROM r{iterations}
    """


def triangle_counts(
    pairs: DataFrame,
    *,
    max_degree: int | None = None,
    log_drops: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an oriented edge list (doc_a < doc_b).

    The standard two-join shape: wedges (a<b<c) from edges (a,b)⋈(b,c),
    closed against edge (a,c) — each triangle is enumerated exactly once
    because every edge is stored in its sorted orientation.  Two equi-join
    shuffles; at 100 TB the classic refinement (orient edges from
    lower-degree to higher-degree endpoint before the wedge join) bounds
    per-key fan-out on skewed hubs, which AQE's skew splitting approximates
    here without the re-orientation pass.

    ``max_degree`` is the output-explosion guard for clique-heavy graphs
    (the near-dup graph IS one: mirrored boilerplate forms cliques whose
    triangle count grows ~d² per node — 246k edges produced 25M triangles
    at sf0.1).  When set, nodes whose symmetric degree exceeds the cap are
    removed (anti-join against the hot-node frame — itself small under any
    heavy-tailed degree distribution) BEFORE the wedge join, bounding both
    wedge fan-out and output to max_degree² per node.  Dropped hot nodes
    are exactly the mirror-cluster cores the LSH dedup stage already
    handles; the capped form is the 100 TB path, the uncapped form the
    exact oracle path (same split as jaccard_pairs vs minhash_lsh_pairs).
    ``log_drops`` additionally counts the dropped edges eagerly (two
    actions over the — persisted — pair frame) and logs them.
    """
    if max_degree is not None:
        ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
            pairs.select(F.col("doc_b").alias("doc_id"))
        )
        deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_deg"))
        hot = deg.filter(F.col("_deg") > max_degree)
        kept = pairs.join(
            hot.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_anti"
        ).join(
            hot.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_anti"
        )
        if log_drops:
            import logging

            n_total, n_kept = pairs.count(), kept.count()
            logging.getLogger(__name__).info(
                "triangle_counts: max_degree=%d dropped %d of %d edges",
                max_degree,
                n_total - n_kept,
                n_total,
            )
        # kept feeds the three wedge-join arms below; without a persist the
        # degree aggregation + both anti-joins re-run once per arm (same
        # multi-arm recompute pagerank's edge persist avoids).
        pairs = registered_persist(kept)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return nodes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per document over the exact near-dup pair
    graph — the local-clustering signal that separates 'mirror cluster'
    documents (dense triangles) from chain-like coincidental overlaps.
    The pair frame feeds three join arms — a bounded parquet scan of the
    PERSISTED pair table (`ensure_pairs_table`, round 8), so the arms
    re-read a small artifact instead of re-running pair mining."""
    release_persisted()
    pairs = ensure_pairs_table(spark, sf_dir)
    return triangle_counts(pairs)


# Scale-form degree cap: bounds triangle output to max_degree² per node.
# 32 sits above the organic near-dup degrees in the synthetic corpus but
# below its mirror-clique cores (degree 55-85 at sf0.01/0.1) — the capped
# query keeps the chain/cluster-local triangles and sheds the d² blowup.
GRAPH_MAX_DEGREE = 32


def q_graph_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of `q_graph_triangles`: identical wedge-close plan,
    but nodes above GRAPH_MAX_DEGREE near-dup edges are removed first —
    on clique-heavy graphs the uncapped output grows ~d² per hot node
    (25M triangles from 246k edges at sf0.1), and one hot community at
    100× produces billions of rows.  The cap is deterministic, so the
    query keeps a full hash oracle."""
    release_persisted()
    pairs = ensure_pairs_table(spark, sf_dir)
    return triangle_counts(pairs, max_degree=GRAPH_MAX_DEGREE)


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph: how many documents have
    k near-duplicates — the first diagnostic read before choosing dedup
    thresholds (a heavy tail here is the boilerplate signature).  One
    grouped count over the symmetric edge list, then a count-of-counts."""
    release_persisted()
    # both union branches consume the pair frame — a bounded scan of the
    # persisted pair table (ensure_pairs_table, round 8), cheap to read
    # twice, no persist needed
    pairs = ensure_pairs_table(spark, sf_dir)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def q_graph_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PROVENANCE: pair counts per unordered SOURCE pair over
    the persisted edge artifact — which domains near-duplicate which
    (mirror detection, syndication mapping, the "who copies whom" read
    every crawl-curation team runs before choosing per-domain dedup
    policy; same-source rows measure within-domain boilerplate).

    Plan: the corpus appears only as a 2-column projected scan
    (doc_id, source) equi-joined twice to the bounded pair artifact
    (ensure_pairs_table — the write-once contract); the final groupBy
    runs over the bounded source-pair frame.  least/greatest normalize
    the pair so (A,B) and (B,A) count together regardless of edge
    orientation."""
    release_persisted()
    pairs = ensure_pairs_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return cross_source_pairs(pairs, docs)


def cross_source_pairs(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Unordered source-pair counts over an edge frame (doc_a, doc_b) —
    the pure form behind q_graph_cross_source (see its docstring)."""
    src = docs.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")
    )
    b = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")
    )
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def _graph_sql(body: str) -> str:
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs_sql

    return f"WITH pairs AS ({jaccard_pairs_sql(GRAPH_PAIR_THRESHOLD)}){body}"


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_pagerank": q_graph_pagerank,
    "graph_triangles": q_graph_triangles,
    "graph_triangles_capped": q_graph_triangles_capped,
    "graph_degrees": q_graph_degrees,
    "graph_cross_source": q_graph_cross_source,
}

ORACLES: dict[str, str] = {
    "graph_pagerank": _pagerank_sql(PAGERANK_DAMPING, PAGERANK_ITERATIONS),
    # The oracle re-mines the pairs from the raw table (as every graph
    # oracle does), so a corrupted/stale artifact hashes red here too.
    "graph_cross_source": _graph_sql("""
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               COUNT(*) AS n_pairs
        FROM pairs p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
        GROUP BY 1, 2
    """),
    "graph_triangles": _graph_sql("""
        , tri AS (
            SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
            FROM pairs e1
            JOIN pairs e2 ON e1.doc_b = e2.doc_a
            JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        )
        SELECT doc_id, COUNT(*) AS n_triangles
        FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY doc_id
    """),
    "graph_triangles_capped": _graph_sql(f"""
        , ends AS (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        ), deg AS (
            SELECT doc_id, COUNT(*) AS d FROM ends GROUP BY doc_id
        ), hot AS (
            SELECT doc_id FROM deg WHERE d > {GRAPH_MAX_DEGREE}
        ), kept AS (
            SELECT doc_a, doc_b FROM pairs
            WHERE doc_a NOT IN (SELECT doc_id FROM hot)
              AND doc_b NOT IN (SELECT doc_id FROM hot)
        ), tri AS (
            SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
            FROM kept e1
            JOIN kept e2 ON e1.doc_b = e2.doc_a
            JOIN kept e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        )
        SELECT doc_id, COUNT(*) AS n_triangles
        FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY doc_id
    """),
    "graph_degrees": _graph_sql("""
        , ends AS (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        ), deg AS (
            SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id
        )
        SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree
    """),
}
