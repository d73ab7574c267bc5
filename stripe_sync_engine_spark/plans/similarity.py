"""Similarity search over the ``embeddings`` table (``array<float>``):

* ``sim_topk_brute`` — brute-force top-k under BOTH metrics (l2 + cosine,
  tagged by a ``metric`` column) as the exact baseline: the (small) query
  set is **broadcast** against the corpus, the distance arithmetic runs in
  JVM higher-order functions (zip_with / aggregate), and ranking is a
  per-query window. O(|Q|·N), no shuffle of the corpus, linear scale-out
  across executors — the right brute-force shape at 100 TB.
* ``sim_lsh_buckets`` — random-hyperplane LSH bucketing as the scale path:
  deterministic ±1 hyperplanes (md5-derived, inlined identically into the
  Spark plan and the SQL oracle), sign-bit bucket key, so candidate
  generation becomes an equi-join on the bucket key instead of a cross
  join.

Float discipline: engines disagree on float→decimal conversion and on
double summation order, so vector components are **quantized to int64**
(``floor(v · 10^7)``) on both sides — IEEE multiply + floor is
bit-deterministic — and all dot products / norms are exact integer sums
(max |v|≈1 → Σ 64·(10^7)^2 ≈ 6.4e15, well inside int64). Only the final
cosine converts to double (sqrt/division on identical inputs is IEEE-
deterministic), so values and ranks hash-match DuckDB exactly.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stripe_sync_engine_spark.plans.registry import register
from stripe_sync_engine_spark.tables import load_table

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
N_PLANES = 8
N_DIMS = 64
QUANT = 10_000_000  # 1e7: quantization scale for float components


def _quant(arr: Column) -> Column:
    """array<float> → array<long>: floor(v * 1e7), bit-identical to the
    DuckDB expression ``CAST(floor(CAST(v AS DOUBLE) * 10000000) AS BIGINT)``."""
    return F.transform(arr, lambda x: F.floor(x.cast("double") * F.lit(float(QUANT))).cast("long"))


def _idot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x)


SQL_QUANT_PAIRS = f"""
    SELECT query_id, neighbor_id,
           CAST(floor(CAST(qv AS DOUBLE) * {QUANT}) AS BIGINT) AS qi,
           CAST(floor(CAST(ev AS DOUBLE) * {QUANT}) AS BIGINT) AS ei
    FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               unnest(q.embedding) AS qv, unnest(e.embedding) AS ev
        FROM embeddings q, embeddings e
        WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> e.vec_id
    )
"""

SQL_DOTS = f"""
    SELECT query_id, neighbor_id,
           CAST(SUM(qi * ei) AS BIGINT) AS dot,
           CAST(SUM(qi * qi) AS BIGINT) AS qn2,
           CAST(SUM(ei * ei) AS BIGINT) AS en2
    FROM ({SQL_QUANT_PAIRS})
    GROUP BY query_id, neighbor_id
"""


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, dot, qn2, en2) with exact int64 arithmetic;
    query side broadcast so the corpus never shuffles. Norms are computed
    ONCE per vector on each side BEFORE the cross join — inside the join
    they would be re-evaluated per pair, i.e. |Q|× more norm work on the
    corpus side (and |corpus|× on the query side) for identical values."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _quant(F.col("embedding")).alias("q_emb")
    ).withColumn("qn2", _idot(F.col("q_emb"), F.col("q_emb")))
    e = emb.select(
        F.col("vec_id").alias("neighbor_id"), _quant(F.col("embedding")).alias("e_emb")
    ).withColumn("en2", _idot(F.col("e_emb"), F.col("e_emb")))
    return (
        F.broadcast(q)
        .crossJoin(e)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _idot(F.col("q_emb"), F.col("e_emb")).alias("dot"),
            "qn2",
            "en2",
        )
    )


@register(
    "sim_topk_brute",
    oracle=f"""
        WITH dots AS ({SQL_DOTS}),
        ranked_l2 AS (
            SELECT query_id, neighbor_id,
                   qn2 + en2 - 2 * dot AS l2sq,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qn2 + en2 - 2 * dot, neighbor_id) AS rank
            FROM dots
        ),
        ranked_cos AS (
            SELECT query_id, neighbor_id,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(en2 AS DOUBLE))) AS cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(en2 AS DOUBLE))) DESC,
                                               neighbor_id) AS rank
            FROM dots
        )
        SELECT 'l2' AS metric, query_id, neighbor_id,
               CAST(rank AS BIGINT) AS rank, CAST(l2sq AS DOUBLE) AS score
        FROM ranked_l2 WHERE rank <= {TOP_K}
        UNION ALL
        SELECT 'cosine' AS metric, query_id, neighbor_id,
               CAST(rank AS BIGINT) AS rank, cosine AS score
        FROM ranked_cos WHERE rank <= {TOP_K}
    """,
    operators="TDP-ann-bruteforce,TDP-ann-cosine",
)
def sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force k-NN baseline under BOTH metrics, tagged by a ``metric``
    column (formerly the separate sim_topk_l2 / sim_topk_cosine registry
    entries — same operators, one scored-pairs pass instead of two).

    L2 ranks on exact int64 squared distance (quantized embeddings);
    cosine ranks on IEEE-deterministic dot/(|q||e|). The final score cast
    to DOUBLE is the same exact-int → nearest-even rounding in both
    engines, so value hashes stay stable."""
    scored = _scored_pairs(spark, sf_dir)
    l2sq = (F.col("qn2") + F.col("en2") - 2 * F.col("dot")).alias("l2sq")
    w_l2 = Window.partitionBy("query_id").orderBy(F.col("l2sq").asc(), F.col("neighbor_id").asc())
    top_l2 = (
        scored.select("query_id", "neighbor_id", l2sq)
        .withColumn("rank", F.row_number().over(w_l2))
        .where(F.col("rank") <= TOP_K)
        .select(
            F.lit("l2").alias("metric"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("l2sq").cast("double").alias("score"),
        )
    )
    cosine = F.col("dot").cast("double") / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("en2").cast("double")))
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    top_cos = (
        scored.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= TOP_K)
        .select(
            F.lit("cosine").alias("metric"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("cosine").alias("score"),
        )
    )
    return top_l2.unionByName(top_cos)


def lsh_planes() -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign of the first md5 nibble of
    ``"{plane}:{dim}"``. Computed once driver-side and inlined as literals
    into BOTH the Spark plan and the oracle SQL (identical by construction).
    """
    planes = []
    for p in range(N_PLANES):
        row = []
        for d in range(N_DIMS):
            nib = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16)
            row.append(1 if nib >= 8 else -1)
        planes.append(row)
    return planes


def _sql_plane_values() -> str:
    """(p, d, w) VALUES literal for the oracle."""
    rows = []
    for p, row in enumerate(lsh_planes()):
        for d, w in enumerate(row):
            rows.append(f"({p},{d + 1},{w})")
    return ", ".join(rows)


# Parity query for the folded bucket-assignment stage: DERIVED from the
# same SQL_BUCKETS fragment every ANN/dedup oracle builds on (defined
# below), so the stage the pytest checks can never silently diverge from
# what the registry oracles assume. Placeholder assigned here for reading
# order; the real value is set right after SQL_BUCKETS.
SQL_LSH_BUCKETS: str


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment: 8 deterministic ±1 planes →
    8 sign bits → bucket string. Entirely map-side per vector — no shuffle
    until a candidate join on ``bucket`` (numpy matmul inside mapInPandas;
    see _buckets_and_quant for why that beats JVM HOF lambdas here).

    Folded out of the registry in round 6 (pure intermediate of
    sim_lsh_ann / dd_embed_cosine, whose oracles mirror this stage); its
    own value-level oracle parity stays checked in
    tests/test_operators.py::test_lsh_buckets_parity via
    ``SQL_LSH_BUCKETS``."""
    return _buckets_and_quant(spark, sf_dir).select("vec_id", "bucket")


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (dedup family) and the two
# scale-path ANN searches: multiprobe LSH and IVF. Candidate generation is
# always a bucket/cell equi-join — never an all-pairs cross join — and the
# oracle SQL mirrors BOTH stages (bucketing and exact verify), so the
# correctness gate checks the full pipeline, not just the verify step.
# ---------------------------------------------------------------------------

EMBED_DUP_THRESHOLD = 0.25  # same-bucket pairs above this cosine are near-dups
EMBED_BUCKET_MAX = 256  # drop LSH buckets larger than this (fan-out cap)
N_PROBES_BITS = N_PLANES  # multiprobe: original bucket + all Hamming-1 flips
IVF_CENTROID_STRIDE = 50  # centroids = vec_id % 50 == 0 (deterministic seeds)
IVF_NPROBE = 2


SQL_BUCKETS = f"""
    WITH planes(p, d, w) AS (VALUES {_sql_plane_values()}),
    comps AS (
        SELECT vec_id,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS vi,
               unnest(generate_series(1, {N_DIMS})) AS d
        FROM embeddings
    ),
    signs AS (
        SELECT c.vec_id, pl.p, CAST(SUM(c.vi * pl.w) AS BIGINT) AS s
        FROM comps c JOIN planes pl ON pl.d = c.d
        GROUP BY c.vec_id, pl.p
    ),
    buckets AS (
        SELECT vec_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
        FROM signs GROUP BY vec_id
    ),
    qcomps AS (
        SELECT vec_id,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS vi,
               unnest(generate_series(1, {N_DIMS})) AS d
        FROM embeddings
    ),
    qvecs AS (
        SELECT vec_id, list(vi ORDER BY d) AS qv FROM qcomps GROUP BY vec_id
    )
"""

# the derivation promised above: the folded stage's parity query IS the
# shared fragment plus a projection of its buckets CTE (unused CTEs are
# legal), so editing SQL_BUCKETS updates the pytest parity check too
SQL_LSH_BUCKETS = f"{SQL_BUCKETS} SELECT vec_id, bucket FROM buckets"

SQL_EXACT_COSINE = """
    list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[])
      / (sqrt(list_dot_product(a.qv::DOUBLE[], a.qv::DOUBLE[]))
         * sqrt(list_dot_product(b.qv::DOUBLE[], b.qv::DOUBLE[])))
"""


def _buckets_and_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket, qv): LSH bucket + quantized vector, one map-side pass.

    Vectorized numpy inside Arrow-batched ``mapInPandas`` — the one place
    this engine prefers Python over JVM expressions on a hot path, and it
    is measured, not guessed: Spark higher-order-function lambdas
    (zip_with/aggregate) evaluate INTERPRETED, so 8 plane dot products ×
    64 dims per vector cost ~1.5 ms/row, while the equivalent (n,64)@(64,8)
    int64 matmul is microseconds per batch. The arithmetic is exactly the
    JVM/_quant semantics: float32→float64 (exact), ×1e7, floor, int64 —
    bit-identical on both engines, so the DuckDB oracle is unchanged.
    Still zero-shuffle and embarrassingly parallel at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return buckets_and_quant_for(emb)


def buckets_and_quant_for(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """DF-generic core of ``_buckets_and_quant`` (same arithmetic, any
    (id, vector) DataFrame) — shared with the incremental embedding index
    (``operators/embedding_index.py``)."""
    planes = lsh_planes()
    quant = QUANT
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))

    def assign(batches):
        import numpy as np

        plane_m = np.array(planes, dtype=np.int64)  # (8, 64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(v * quant).astype(np.int64)  # (n, 64)
            signs = q @ plane_m.T > 0  # (n, 8)
            buckets = ["".join("1" if b else "0" for b in row) for row in signs]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "bucket": buckets, "qv": list(q)}
            )

    return src.mapInPandas(assign, schema="vec_id long, bucket string, qv array<long>")


@register(
    "dd_embed_cosine",
    oracle=f"""
        {SQL_BUCKETS},
        hot_buckets AS (
            SELECT bucket FROM buckets
            GROUP BY bucket HAVING COUNT(*) > {EMBED_BUCKET_MAX}
        ),
        vecs AS (
            SELECT b.vec_id, b.bucket, q.qv FROM buckets b JOIN qvecs q USING (vec_id)
            WHERE b.bucket NOT IN (SELECT bucket FROM hot_buckets)
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {SQL_EXACT_COSINE} AS cosine
        FROM vecs a JOIN vecs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {SQL_EXACT_COSINE} >= {EMBED_DUP_THRESHOLD}
    """,
    operators="TDP-dedup-embed",
)
def dd_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates come from LSH
    buckets (560 candidate pairs vs 124,750 all-pairs at sf0.01), verified
    with the exact quantized cosine. Single-pass plan (the shape the
    Jaccard dedup uses): the quantize+bucket pipeline runs ONCE,
    one shuffle groups vectors by bucket, and the i<j pairs explode map-side
    from the sorted in-bucket list — vs a self-join's two shuffles over
    twice-computed input. Norms are computed per vector BEFORE grouping so
    each pair only needs one dot product. At 100 TB, recall is tuned by
    adding bands (OR over independent bucket keys) exactly like
    MinHash-LSH in plans/dedup.py.

    Declared bucket cap (mirrored in the oracle): a window count over the
    bucket key drops buckets above ``EMBED_BUCKET_MAX`` BEFORE the
    per-bucket vector lists are collected — no task ever holds an
    unbounded bucket array or emits its k²/2 pairs (a dense embedding
    cluster at 100 TB is exactly such a bucket). The window form keeps the
    quantize+bucket ``mapInPandas`` to a single execution (one shuffle,
    no persist, and the following groupBy reuses the partitioning)."""
    from pyspark.sql import Window

    from stripe_sync_engine_spark.plans.dedup import _pairs_from_sorted

    vecs = _buckets_and_quant(spark, sf_dir).withColumn(
        "n2", _idot(F.col("qv"), F.col("qv"))
    )
    w = Window.partitionBy("bucket")
    kept = (
        vecs.withColumn("_sz", F.count(F.lit(1)).over(w))
        .where(F.col("_sz") <= EMBED_BUCKET_MAX)
        .drop("_sz")
    )
    grp = (
        kept.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "n2", "qv"))).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    pairs = _pairs_from_sorted(F.col("docs"), lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    ex = grp.select(F.explode(pairs).alias("pr")).select(
        F.col("pr.a.vec_id").alias("id_a"),
        F.col("pr.b.vec_id").alias("id_b"),
        (
            _idot(F.col("pr.a.qv"), F.col("pr.b.qv")).cast("double")
            / (F.sqrt(F.col("pr.a.n2").cast("double")) * F.sqrt(F.col("pr.b.n2").cast("double")))
        ).alias("cosine"),
    )
    return ex.where(F.col("cosine") >= F.lit(EMBED_DUP_THRESHOLD))


@register(
    "sim_lsh_ann",
    oracle=f"""
        {SQL_BUCKETS},
        vecs AS (
            SELECT b.vec_id, b.bucket, q.qv FROM buckets b JOIN qvecs q USING (vec_id)
        ),
        probes AS (
            SELECT vec_id, bucket AS probe FROM vecs WHERE vec_id < {N_QUERIES}
            UNION ALL
            SELECT vec_id,
                   substr(bucket, 1, i - 1)
                     || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
                     || substr(bucket, i + 1) AS probe
            FROM vecs, generate_series(1, {N_PROBES_BITS}) AS t(i)
            WHERE vec_id < {N_QUERIES}
        ),
        cand AS (
            SELECT p.vec_id AS query_id, v.vec_id AS neighbor_id
            FROM probes p JOIN vecs v ON v.bucket = p.probe
            WHERE v.vec_id <> p.vec_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id, {SQL_EXACT_COSINE} AS cosine
            FROM cand c
            JOIN vecs a ON a.vec_id = c.query_id
            JOIN vecs b ON b.vec_id = c.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
        FROM ranked WHERE rank <= {TOP_K}
    """,
    operators="TDP-ann-lsh-e2e",
)
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multiprobe-LSH ANN: each query probes its own bucket plus
    all {N_PLANES} Hamming-1 neighbors (9 probe keys, computed map-side),
    candidates come from the bucket equi-join, and only candidates get the
    exact cosine — the corpus is never brute-force scanned. Each
    (query, candidate) pair matches exactly one probe (a corpus vector has
    one bucket and probe keys are distinct), so no dedup pass is needed."""
    vecs = _buckets_and_quant(spark, sf_dir).withColumn("n2", _idot(F.col("qv"), F.col("qv")))
    queries = vecs.where(F.col("vec_id") < N_QUERIES)
    flips = [F.col("bucket")]
    for i in range(1, N_PROBES_BITS + 1):
        flipped = F.when(F.substring("bucket", i, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
        flips.append(
            F.concat(F.substring("bucket", 1, i - 1), flipped, F.expr(f"substring(bucket, {i + 1})"))
        )
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qv_a"),
        F.col("n2").alias("na2"),
        F.explode(F.array(*flips)).alias("probe"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("probe"),
        F.col("qv").alias("qv_b"),
        F.col("n2").alias("nb2"),
    )
    # Norms ride the join sides (computed once per vector/probe row);
    # each candidate pair evaluates only the single cross dot product.
    cosine = _idot(F.col("qv_a"), F.col("qv_b")).cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, ["probe"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


@register(
    "sim_ivf_topk",
    oracle=f"""
        {SQL_BUCKETS},
        cdist AS (
            SELECT vec_id, cell,
                   CAST(SUM(vv * cc) AS BIGINT) AS dot,
                   CAST(SUM(vv * vv) AS BIGINT) AS vn2,
                   CAST(SUM(cc * cc) AS BIGINT) AS cn2
            FROM (
                SELECT v.vec_id, c.vec_id AS cell, unnest(v.qv) AS vv, unnest(c.qv) AS cc
                FROM qvecs v JOIN qvecs c ON c.vec_id % {IVF_CENTROID_STRIDE} = 0
            )
            GROUP BY vec_id, cell
        ),
        assign AS (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY vn2 + cn2 - 2 * dot, cell) AS rn
            FROM cdist
        ),
        cells AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
        qprobe AS (
            SELECT vec_id AS query_id, cell FROM assign
            WHERE rn <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
        ),
        cand AS (
            SELECT q.query_id, v.vec_id AS neighbor_id
            FROM qprobe q JOIN cells v USING (cell)
            WHERE v.vec_id <> q.query_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id, {SQL_EXACT_COSINE} AS cosine
            FROM cand c
            JOIN qvecs a ON a.vec_id = c.query_id
            JOIN qvecs b ON b.vec_id = c.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
        FROM ranked WHERE rank <= {TOP_K}
    """,
    operators="TDP-ann-ivf",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a small deterministic centroid set (every
    {IVF_CENTROID_STRIDE}th vector) is broadcast; every corpus vector is
    assigned to its nearest cell map-side (exact int64 L2, |centroids|-way
    fan-out, no shuffle); queries probe their {IVF_NPROBE} nearest cells
    and brute-force only those cells' members. At 100 TB the corpus would
    be written bucketed BY cell so probes prune file scans; the search
    join stays an equi-join on cell either way. Each corpus vector lives
    in exactly one cell and probed cells are distinct, so each
    (query, neighbor) candidate appears once — no dedup pass."""
    # Norms hoisted out of the |corpus|·|centroids| pair fan-out: vn2 is
    # computed once per vector and cn2 once per centroid; inside the cross
    # join each would be re-evaluated per pair for identical values.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qv")
    ).withColumn("vn2", _idot(F.col("qv"), F.col("qv")))
    cents = emb.where(F.col("vec_id") % IVF_CENTROID_STRIDE == 0).select(
        F.col("vec_id").alias("cell"), F.col("qv").alias("cv"), F.col("vn2").alias("cn2")
    )
    l2sq = F.col("vn2") + F.col("cn2") - 2 * _idot(F.col("qv"), F.col("cv"))
    cdist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "qv", "vn2", "cell", l2sq.alias("l2sq")
    )
    # Corpus assignment is an argmin, not a rank: min_by ordered by the
    # (l2sq, cell) struct is map-side partial-aggregable, so the exchange
    # carries ONE row per vector — a window-over-vec_id formulation would
    # shuffle all |corpus|·|centroids| rows, each dragging its 64-long
    # array, before ranking.
    cells = (
        cdist.groupBy("vec_id")
        .agg(
            F.min_by("cell", F.struct("l2sq", "cell")).alias("cell"),
            F.first("qv").alias("qv_b"),
            F.first("vn2").alias("nb2"),
        )
        .select(F.col("vec_id").alias("neighbor_id"), "cell", "qv_b", "nb2")
    )
    # Queries DO need a rank (their top-NPROBE cells), but only the
    # N_QUERIES subset pays for it — the filter pushes below the centroid
    # cross join, so this branch re-scans |queries|·|centroids| rows.
    w = Window.partitionBy("vec_id").orderBy(F.col("l2sq").asc(), F.col("cell").asc())
    qprobe = (
        cdist.where(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= IVF_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell"),
            F.col("qv").alias("qv_a"),
            F.col("vn2").alias("na2"),
        )
    )
    # Norms ride the join sides; each candidate pair costs one dot product.
    cosine = _idot(F.col("qv_a"), F.col("qv_b")).cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    scored = (
        F.broadcast(qprobe)
        .join(cells, ["cell"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )
