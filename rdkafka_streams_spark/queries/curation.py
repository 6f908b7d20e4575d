"""Round-5 curation & sketch operators: SemDeDup-style embedding dedup,
count-min-sketch heavy-hitter triage, partition-pruned scans, exact MIPS
via norm augmentation, k-core decomposition, and Johnson-Lindenstrauss
random projection.

These extend the training-data surface (SURVEY.md §2.6/§2.7) with the
curation steps a 100 TB pipeline runs between ingestion and training:
semantic dedup keeps one document per embedding-level duplicate group
(Abbas et al., SemDeDup), heavy-hitter triage finds dominating keys
without a full exact count of every key (Cormode & Muthukrishnan CM
sketch, used here strictly as a no-false-negative prefilter in front of
an exact verify — the repo's sketch-triage discipline), date-partitioned
layouts prove partition pruning at the scan (the single biggest lever at
100 TB: a 7-day query must read 7 partitions, not 3650), MIPS retrieval
ranks by inner product through the norm-augmentation reduction (Bachrach
et al. 2014) so cosine-LSH infrastructure is reusable, k-core peeling
screens the co-purchase graph for its dense backbone before expensive
graph work, and JL projection compresses 64-dim embeddings to 16 dims
with deterministic ±1 signs (Achlioptas 2003) in exact integer
milli-units.

Determinism: money/measure sums are snapped to integer units BEFORE
aggregation (order-free), irrational outputs rounded to ≤6 decimals, all
ranks totalized with unique tiebreak keys — the registry-wide parity
discipline (queries/registry.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdkafka_streams_spark.core.io import load_table
from rdkafka_streams_spark.functions.money import SQL_DISC_PRICE
from rdkafka_streams_spark.queries.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


EMB_DIM = 64


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


# ------------------------------------------------------- SemDeDup (L2/L3)
@query(
    "q200_semdedup",
    oracle=f"""
WITH RECURSIVE pr AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         {_dot_sql('a.embedding', 'b.embedding')} AS dot,
         sqrt({_dot_sql('a.embedding', 'a.embedding')}) AS na,
         sqrt({_dot_sql('b.embedding', 'b.embedding')}) AS nb
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
pairs AS (
  SELECT id1, id2 FROM (
    SELECT id1, id2, ROUND(dot / (na * nb), 6) AS cos FROM pr)
  WHERE cos >= 0.3),
edges2 AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges2
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges2 e ON r.b = e.a),
comp AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
dropped AS (SELECT vec_id FROM comp WHERE cluster <> vec_id)
SELECT e.label,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept,
       CAST(COUNT(d.vec_id) * 1000000 // COUNT(*) AS BIGINT) AS drop_ppm
FROM embeddings e LEFT JOIN dropped d USING (vec_id)
GROUP BY e.label
""",
    tags=("L2", "L3", "graph"),
)
def q200_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup in embedding space —
    within each coarse cluster (label = the precomputed quantizer cell,
    the q55 IVF stance), find cosine-≥-τ pairs, close them into duplicate
    groups (connected components), and keep ONE canonical member (min
    vec_id) per group. Output: per-cluster retention summary in exact
    ppm. At 100 TB the pair stage is cell-local (never a global self-join
    — cells come from a k-means/IVF pass) and components run the
    O(log n)-round operator; the keep-one rule makes dedup deterministic
    and idempotent. Oracle: same pairs + recursive-CTE transitive
    closure."""
    from rdkafka_streams_spark.llm.similarity import embedding_near_dups
    from rdkafka_streams_spark.operators.graph import connected_components

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups(emb, threshold=0.3, cell_col="label").select(
        "id1", "id2"
    )
    comp = connected_components(pairs, "id1", "id2", dedupe_edges=False)
    dropped = (
        comp.where(F.col("component") != F.col("node"))
        .select(F.col("node").alias("vec_id"), F.lit(1).alias("__d"))
    )
    return (
        emb.join(F.broadcast(dropped), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.count("__d").cast("bigint").alias("n_dropped"),
            (F.count("*") - F.count("__d")).cast("bigint").alias("n_kept"),
            F.expr("count(__d) * 1000000 div count(*)")
            .cast("bigint")
            .alias("drop_ppm"),
        )
    )


# ------------------------------------- CM-sketch heavy hitters (X/E10)
_CMS_D, _CMS_W, _CMS_T = 4, 1024, 45


@query(
    "q201_heavy_hitters",
    oracle=f"""
SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= {_CMS_T}
""",
    tags=("X", "E10", "sketch"),
)
def q201_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by count-min-sketch triage + exact verify (Cormode &
    Muthukrishnan 2005). Build a d=4, w=1024 CM sketch of l_partkey in
    ONE map-side pass (the counter table is d*w = 4096 rows regardless of
    data size), broadcast it back, and keep only rows whose sketch
    estimate >= T — the CMS never underestimates, so no true heavy
    hitter is lost. The exact count then runs ONLY over the surviving
    rows (candidate keys), and the final HAVING removes the sketch's
    false positives. At 100 TB this is the difference between shuffling
    2B distinct keys for an exact count and shuffling only the rows of a
    few hundred candidates; the sketch itself is internal, so its hash
    (xxhash64) needs no cross-engine parity — only the exact, verified
    output does. Oracle: plain GROUP BY ... HAVING."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    # one pass -> d*w counters (map-side partial agg does the heavy lifting)
    probes = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("h"),
                        F.pmod(F.xxhash64("l_partkey", F.lit(i)), _CMS_W).alias("bkt"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("e"),
    ).select("e.h", "e.bkt")
    counters = probes.groupBy("h", "bkt").agg(F.count("*").alias("c"))
    # pack the whole sketch into ONE map<h, map<bkt,c>> row broadcast once
    # (the bloomjoin discipline) — the build aggregation runs exactly once
    # and the probe is a map lookup per row, not d joins
    sketch = (
        counters.groupBy("h")
        .agg(F.map_from_entries(F.collect_list(F.struct("bkt", "c"))).alias("m"))
        .groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("h", "m"))).alias("mm"))
    )
    est = F.least(
        *[
            F.element_at(
                F.element_at("mm", F.lit(i)),
                F.pmod(F.xxhash64("l_partkey", F.lit(i)), _CMS_W),
            )
            for i in range(_CMS_D)
        ]
    )
    survivors = (
        li.crossJoin(F.broadcast(sketch)).where(est >= _CMS_T).select("l_partkey")
    )
    return (
        survivors.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("n_lines"))
        .where(F.col("n_lines") >= _CMS_T)
    )


# ------------------------------------------- partition-pruned scan (S7/X)
@query(
    "q202_partitioned_scan",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type
""",
    tags=("S7", "X"),
)
def q202_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: the events table is rewritten into a
    date-partitioned layout (``partitionBy("event_date")`` — the standard
    100 TB time-series layout), read back, and a 7-day aggregate runs
    against it. Catalyst turns the date predicate into PartitionFilters,
    so the scan lists and reads ONLY the 7 matching directories — on a
    10-year 100 TB table that is a 500x I/O cut before a single row is
    decoded (tests/test_plans.py pins the pruned-scan shape). Values are
    snapped to integer cents before the SUM (order-free exact). Oracle
    runs the same filter on the unpartitioned source — pruning must not
    change results."""
    import tempfile

    ev = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out_dir = tempfile.mkdtemp(prefix="q202_part_")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out_dir)
    back = spark.read.parquet(out_dir).where(
        (F.col("event_date") >= F.lit("2024-01-08"))
        & (F.col("event_date") <= F.lit("2024-01-14"))
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


# --------------------------------------------------- exact MIPS (L3)
@query(
    "q203_mips_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           WHERE vec_id BETWEEN 100 AND 104),
pr AS (
  SELECT q.q_id, e.vec_id, {_dot_sql('e.embedding', 'q.q_emb')} AS dot
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id)
SELECT q_id, vec_id, ROUND(dot, 6) AS dot FROM (
  SELECT q_id, vec_id, dot,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rn
  FROM pr)
WHERE rn <= 3
""",
    tags=("L3",),
)
def q203_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product retrieval (the scoring used by recommender /
    retrieval heads, distinct from q54's cosine): top-3 corpus vectors by
    raw dot product per query. Ranks through the norm-augmentation
    reduction (Bachrach et al. 2014): with M = the corpus max norm, every
    corpus vector is lifted to [x, sqrt(M^2-|x|^2)] (constant norm M) and
    queries to [q, 0]; augmented cosine = dot/(M*|q|), a positive-constant
    scaling per query, so the augmented-cosine order IS the inner-product
    order (IEEE division by a positive constant is monotone) — meaning the
    cosine-LSH/IVF infrastructure (q92/q55) applies unchanged to MIPS at
    100 TB. The reduction is unit-tested equal to direct-dot ranking;
    norms are factored per-vector below the candidate join (the
    cosine_topk discipline)."""
    from rdkafka_streams_spark.llm.similarity import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings")
    # corpus max norm (1-row broadcast join — the standard scalar pattern)
    mrow = emb.agg(F.max(_norm("embedding")).alias("__M"))
    q = emb.where(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
    )
    pairs = (
        emb.crossJoin(F.broadcast(mrow))
        .join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _dot("embedding", "q_emb").alias("_dot"),
            F.col("__M"),
            F.col("q_nrm"),
        )
    )
    # rank by the augmented cosine; report the raw dot (same order)
    from pyspark.sql import Window

    aug_cos = F.col("_dot") / (F.col("__M") * F.col("q_nrm"))
    w = Window.partitionBy("q_id").orderBy(aug_cos.desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "vec_id", F.round("_dot", 6).alias("dot"))
    )


# --------------------------------------------------- k-core peeling (X)
_KCORE_K, _KCORE_ROUNDS = 3, 16


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronized-peeling SQL: each stage drops every node whose
    current degree < k (the same rule the Spark loop applies per round).
    Peeling is confluent, so once both engines reach the fixpoint the
    result is the unique k-core regardless of round count; the Spark side
    RAISES if not converged within the same bound."""
    stages = [
        """
li AS (SELECT l_orderkey, l_partkey FROM lineitem),
w0 AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
e0 AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM w0 UNION ALL SELECT p2, p1 FROM w0)"""
    ]
    for i in range(rounds):
        stages.append(
            f"""
d{i} AS MATERIALIZED (SELECT a, COUNT(*) AS c FROM e{i} GROUP BY a),
e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i} e
  JOIN d{i} x ON e.a = x.a JOIN d{i} y ON e.b = y.a
  WHERE x.c >= {k} AND y.c >= {k})"""
        )
    return (
        "WITH "
        + ",".join(stages)
        + f"""
SELECT a AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{rounds} GROUP BY a"""
    )


@query(
    "q204_kcore",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    tags=("X", "graph"),
)
def q204_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition of the weight-≥2 co-purchase graph
    (Seidman 1983; the density screen run before community/motif work —
    q144's triangle counting only pays off inside the core). Synchronized
    peeling: every round drops all nodes with current degree < k at once,
    so the round count is the graph's degeneracy-ordering depth
    (O(log n)-ish on heavy-tailed graphs), not O(n) sequential removals.
    Each round is one degree agg + two semi-join filters over the shrinking
    edge list, with localCheckpoint truncating the iterative lineage (the
    connected_components discipline, operators/graph.py:52). Converges in
    ≤8 rounds on every fixture; RAISES past 16 rounds rather than return
    a non-fixpoint. Oracle: the same peeling unrolled to 16 stages."""
    from rdkafka_streams_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(
        _t(spark, sf_dir, "lineitem"), min_weight=2
    ).localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("a").agg(F.count("*").alias("c"))
        bad = deg.where(F.col("c") < _KCORE_K).select("a").localCheckpoint()
        if bad.isEmpty():
            break
        edges = (
            edges.join(bad, "a", "left_anti")
            .join(bad.withColumnRenamed("a", "b"), "b", "left_anti")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"k-core did not converge within {_KCORE_ROUNDS} rounds"
        )
    return edges.groupBy(F.col("a").alias("part_id")).agg(
        F.count("*").cast("bigint").alias("core_degree")
    )


# ------------------------------------- JL random projection (L3/X)
_JL_OUT = 16


def _jl_signs(dim: int = EMB_DIM, out: int = _JL_OUT) -> list[list[int]]:
    """Deterministic ±1 sign matrix from md5 (Achlioptas 2003 database-
    friendly JL: ±1 entries preserve distances in expectation). Generated
    once in Python and inlined as literals into BOTH engines' plans — the
    hyperplanes() discipline (llm/similarity.py:117)."""
    return [
        [
            1 if int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[:2], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(out)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    base = (
        "base AS (SELECT vec_id, "
        f"list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS iv "
        "FROM embeddings)"
    )
    branches = []
    for j, row in enumerate(signs):
        terms = " + ".join(
            f"({s} * iv[{i + 1}])" for i, s in enumerate(row)
        )
        branches.append(f"SELECT {j} AS dim, ({terms}) AS proj FROM base")
    return (
        f"WITH {base}, p AS ({' UNION ALL '.join(branches)}) "
        "SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
        "CAST(SUM(proj) AS BIGINT) AS sum_proj, "
        "CAST(SUM(proj * proj) AS BIGINT) AS sum_sq "
        "FROM p GROUP BY dim"
    )


@query("q205_jl_projection", oracle=_jl_oracle(), tags=("L3", "X"))
def q205_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss compression 64 → 16 dims with a deterministic
    ±1 sign matrix (Achlioptas 2003): proj_j = Σ_i s_ij·v_i over
    milli-unit-snapped components, so every projected coordinate is an
    exact BIGINT and the per-dim moment sums are order-free (the
    micro-unit discipline). At 100 TB this is the map-side shrink run
    before ANN indexing — 4× less shuffle/storage per vector, zero extra
    passes (one projection per row, whole-stage codegen over literal
    coefficients, no UDF). Output: per projected dim, count / Σproj /
    Σproj² — the moments a downstream whitening step needs. Magnitudes:
    |proj| ≤ 64·1000·max|v|, so Σproj² stays far under int64 even at
    sf1000."""
    signs = _jl_signs()
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT))"
        ).alias("iv"),
    )
    projs = emb.select(
        "vec_id",
        *[
            F.expr(
                " + ".join(f"({s} * iv[{i}])" for i, s in enumerate(row))
            ).alias(f"p{j}")
            for j, row in enumerate(signs)
        ],
    )
    stacked = projs.select(
        F.expr(
            "stack({n}, {args}) AS (dim, proj)".format(
                n=_JL_OUT,
                args=", ".join(f"{j}, p{j}" for j in range(_JL_OUT)),
            )
        )
    )
    return stacked.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("proj").cast("bigint").alias("sum_proj"),
        F.sum(F.col("proj") * F.col("proj")).cast("bigint").alias("sum_sq"),
    )


# ----------------------------- streaming windowed top-k (T1/T4/E19)
@query(
    "q206_streaming_window_topk",
    oracle="""
WITH h AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT ws, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, event_type) AS rn
  FROM h)
SELECT ws, event_type, CAST(n AS BIGINT) AS n, rn FROM r WHERE rn <= 2
""",
    tags=("T1", "T4", "E19", "T-streaming"),
)
def q206_streaming_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly leaderboard THROUGH the transport: events stream
    from a topiclog topic (distributed seed, capped offsets → several
    real micro-batches), a WATERMARKED tumbling-window count runs in
    update mode — state for windows older than the 2 h watermark is
    evicted as event time advances, the unbounded-state guard — and the
    memory sink accumulates per-batch updates; counts per (window, type)
    are monotone, so the final value per key is max-of-updates (the q181
    last-update discipline, oracle-proven). Top-2 types per hour are then
    ranked from the closed counts with a total tiebreak. The reference
    composition is a consumer piped through a user count Transform
    (test/test_getDuplex.coffee:60-69) — this is that topology with
    event-time windows and bounded state."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q206_bus")
    ck = tempfile.mkdtemp(prefix="q206_ck")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    seed = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    KProducer(host=root, topic="ev", transport="topiclog").write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="event_id long, ts_us long, event_type string",
        transport="topiclog", batch_size=2048,
    )
    dec = (
        c.stream(spark)
        .select(
            F.timestamp_micros(F.col("value.ts_us")).alias("ts"),
            F.col("value.event_type").alias("event_type"),
        )
        .withWatermark("ts", "2 hours")
    )
    agg = dec.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    name = "q206_updates"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    final = (
        spark.table(name)
        .groupBy(F.col("w.start").alias("w_start"), "event_type")
        .agg(F.max("n").cast("bigint").alias("n"))
    )
    from pyspark.sql import Window

    rw = Window.partitionBy("w_start").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        final.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") <= 2)
        .select(
            F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
            "rn",
        )
    )


# ----------------------------- stateful session windows (T7/T3)
_SESSION_GAP_US = 6 * 3600 * 1_000_000


@query(
    "q207_stateful_sessions",
    oracle=f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
l AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                   > {_SESSION_GAP_US} THEN 1
              WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL THEN 1
              ELSE 0 END AS brk
  FROM e),
s AS (
  SELECT user_id, ts_us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM l),
agg AS (
  SELECT user_id, sid,
         CAST(MIN(ts_us) AS BIGINT) AS start_us,
         CAST(MAX(ts_us) AS BIGINT) AS end_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, sid)
SELECT user_id, start_us, end_us, n_events
FROM (SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM agg)
WHERE sid < max_sid
""",
    tags=("T7", "T3", "T-streaming"),
)
def q207_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful SESSION WINDOWS through the transport (T7 beyond
    q181's counter): per-user gap-based sessions maintained in
    applyInPandasWithState — each user's open session lives in the state
    store across micro-batches and is emitted EXACTLY ONCE when a
    6-hour gap closes it. The seed is keyed and partition-ordered (the
    q179 distributed produce: crc32(user) routes, event-time sort within
    task), so each user's events arrive in event-time order across the
    capped micro-batches and the state transition never sees
    out-of-order input. Sessions still open at end-of-stream are never
    closed — the oracle mirrors that by dropping each user's LAST
    session (a window that has not ended has no business being in the
    output; the watermark analog for arbitrary state). State is
    O(users), not O(rows) — the 100 TB bound."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q207_bus")
    ck = tempfile.mkdtemp(prefix="q207_ck")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    tp = (F.crc32(F.col("user_id").cast("string").cast("binary")) % n_parts).cast("int")
    seed = (
        ev.withColumn("__tp", tp)
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "user_id")
        .select("user_id", "ts_us", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="user_id long, ts_us long", transport="topiclog",
        batch_size=2048,
    )
    dec = c.stream(spark).select(
        F.col("value.user_id").cast("string").alias("user_id"),
        F.col("value.ts_us").alias("ts_us"),
    )
    from rdkafka_streams_spark.streaming.stateful import session_windows_stateful

    sessions = session_windows_stateful(dec, gap_us=_SESSION_GAP_US)
    name = "q207_sessions"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    return spark.table(name).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "start_us",
        "end_us",
        "n_events",
    )


# ----------------------------- dynamic partition pruning (X/E7)
@query(
    "q208_dpp_join",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE isodow(CAST(ts AS DATE)) = 1
GROUP BY event_type
""",
    tags=("X", "E7", "S7"),
)
def q208_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the date-partitioned fact is joined to a
    calendar dimension filtered at runtime (Mondays) — Catalyst injects a
    dynamicpruningexpression subquery into the fact scan's
    PartitionFilters, so only the partitions matching the dim's surviving
    keys are listed and read, even though the qualifying dates are not
    known until the dim is evaluated (tests/test_plans.py pins the
    dynamicpruning entry). This is q202's static pruning generalized to
    the star-join case — at 100 TB, the difference between scanning the
    full fact and the ~14 % of partitions the dim selects, with zero
    query rewrite. Oracle: the equivalent static predicate."""
    import tempfile

    ev = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    fact_dir = tempfile.mkdtemp(prefix="q208_fact_")
    dim_dir = tempfile.mkdtemp(prefix="q208_dim_")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(fact_dir)
    # calendar dim in its own layout; the Monday filter happens at READ
    # time, so the fact pruning must be dynamic (runtime subquery), not
    # static constant folding
    ev.select("event_date").distinct().withColumn(
        "dow", F.dayofweek("event_date")
    ).write.mode("overwrite").parquet(dim_dir)
    fact = spark.read.parquet(fact_dir)
    dim = (
        spark.read.parquet(dim_dir)
        .where(F.col("dow") == 2)  # Spark dayofweek: 1=Sun … 2=Monday
        .select("event_date")
    )
    return (
        fact.join(dim, "event_date")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
    )


# ----------------------------- per-partition offset seek (S4)
@query(
    "q209_offset_seek",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(user_id % 4 AS INTEGER) AS p
  FROM events),
r AS (
  SELECT p, event_id,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY ts_us, event_id) - 1 AS off
  FROM e),
k AS (
  SELECT p, off, event_id FROM r
  WHERE (p = 0 AND off >= 100) OR p = 1 OR (p = 2 AND off >= 50))
SELECT p AS partition,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(off) AS BIGINT) AS first_offset,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM k GROUP BY p
""",
    tags=("S4", "S1", "T-streaming"),
)
def q209_offset_seek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition offset seek (S4 to the oracle tier): the consumer
    starts from the Kafka-source JSON form
    '{"ev": {"0": 100, "1": -2, "2": 50, "3": -1}}' — an explicit offset
    on p0/p2, earliest on p1, latest (skip everything) on p3 — the full
    ``startingOffsets`` surface of the real Kafka source
    (src/Consumer.coffee:26 ``fromOffset`` generalized per partition),
    now honored by the topiclog transport too. The seed is keyed
    user_id%4 and partition-ordered (q179 discipline), so the offset a
    row lands on is deterministic and the oracle can reconstruct the
    seek points relationally: per-partition row_number over the same
    order. The consumed envelope's (partition, offset) columns prove the
    seek: MIN(offset) per partition must equal the requested start."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q209_bus")
    ck = tempfile.mkdtemp(prefix="q209_ck")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "user_id", "ts_us", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(seed)
    c = KConsumer(
        host=root, topic="ev",
        from_offset=_json.dumps({"ev": {"0": 100, "1": -2, "2": 50, "3": -1}}),
        schema="event_id long, user_id long, ts_us long", transport="topiclog",
    )
    dec = c.stream(spark).select("partition", "offset", F.col("value.event_id").alias("event_id"))
    name = "q209_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).groupBy("partition").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("offset").cast("bigint").alias("first_offset"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    )


# ----------------------------- streaming take-N (R6/S6)
@query(
    "q210_take_n",
    oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us
FROM events ORDER BY epoch_us(ts), event_id LIMIT 600
""",
    tags=("R6", "S6", "T-streaming"),
)
def q210_take_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Take-N-and-destroy through the transport (R6/S6 to the oracle
    tier): the reference consumes exactly N records then destroys the
    stream (``++count === total → @destroy()``,
    test/test_Consumer.coffee:65-66). Here a SINGLE-partition topic is
    seeded in event-time order, the stream is consumed with a 200-record
    per-trigger cap, and ``consume_n`` stops the query gracefully after
    N=600 — three full micro-batches, so the taken set is exactly the
    first 600 offsets (N is a multiple of the cap; no mid-batch
    truncation ambiguity). Driver-side memory is bounded by N by
    construction — this is the one deliberately driver-terminal operator
    in the registry, mirroring the reference's own pattern. Oracle:
    ORDER BY event time LIMIT 600."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog
    from rdkafka_streams_spark.streaming.consumer import consume_n

    root = tempfile.mkdtemp(prefix="q210_bus")
    log = TopicLog(root)
    log.create_topic("ev", partitions=1)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    seed = ev.repartition(1).sortWithinPartitions("ts_us", "event_id")
    KProducer(host=root, topic="ev", transport="topiclog").write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="event_id long, user_id long, ts_us long",
        transport="topiclog", batch_size=200,
    )
    stream = c.stream(spark).select("value.event_id", "value.user_id", "value.ts_us")
    rows = consume_n(stream, 600, timeout_s=120.0)
    return spark.createDataFrame(rows, "event_id long, user_id long, ts_us long")


# ----------------------------- CCNet perplexity buckets (L4)
@query(
    "q211_perplexity_buckets",
    oracle="""
WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
tr AS (SELECT * FROM tk WHERE lang = 'en'),
tbg AS (SELECT t[i] AS w1, t[i+1] AS w2
        FROM tr, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM tbg GROUP BY w1, w2),
cctx AS (SELECT w1, COUNT(*) AS c_ctx FROM tbg GROUP BY w1),
v AS (SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM tr) WHERE tok <> ''),
bg AS (SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
       FROM tk, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
nl AS (SELECT b.doc_id, b.lang,
              CAST(floor(-ln((COALESCE(c.c_bg, 0) + 1)
                             / (COALESCE(x.c_ctx, 0) + v.v * 1.0)) * 1000000 + 0.5)
                   AS BIGINT) AS nll_micro
       FROM bg b
       LEFT JOIN cbg c ON b.w1 = c.w1 AND b.w2 = c.w2
       LEFT JOIN cctx x ON b.w1 = x.w1
       CROSS JOIN v),
ds AS (SELECT doc_id, lang,
              CAST(floor(CAST(SUM(nll_micro) AS BIGINT) * 1.0 / COUNT(*) + 0.5)
                   AS BIGINT) AS score_micro
       FROM nl GROUP BY doc_id, lang),
rk AS (SELECT doc_id, lang, score_micro,
              ROW_NUMBER() OVER (ORDER BY score_micro, doc_id) AS rn,
              COUNT(*) OVER () AS n
       FROM ds)
SELECT CASE WHEN rn * 3 <= n THEN 'head'
            WHEN rn * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM rk GROUP BY 1, 2
""",
    tags=("L4", "L-prep"),
)
def q211_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): a bigram LM
    is trained on the REFERENCE subcorpus (lang='en' — the held-out
    quality anchor, where q96 self-trains on everything), every document
    is scored against it with add-one smoothing and unseen-context
    backoff (-ln(1/V) micro-nats, exact integers), and the corpus splits
    into head/middle/tail perplexity terciles — the split CCNet uses to
    keep head+middle and route tail to review. The tercile rank runs
    through operators/ranking.global_rank (range-partitioned — never a
    single-task global sort); scoring joins are left joins on the bigram
    and context keys so out-of-vocabulary mass lands on the backoff
    term, not on dropped rows. Output: docs per (bucket, lang)."""
    from rdkafka_streams_spark.operators.ranking import global_rank

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    train = docs.where(F.col("lang") == "en")
    tbg = train.select(F.explode(bigrams).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    cbg = tbg.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    cctx = tbg.groupBy("w1").agg(F.count("*").alias("c_ctx"))
    vocab = (
        train.select(F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("v"))
    )
    bg = docs.select("doc_id", "lang", F.explode(bigrams).alias("b")).select(
        "doc_id", "lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    nl = (
        bg.join(cbg, ["w1", "w2"], "left")
        .join(cctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            F.floor(
                -F.log(
                    (F.coalesce(F.col("c_bg"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.col("v"))
                )
                * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    ds = nl.groupBy("doc_id", "lang").agg(
        F.floor(F.sum("nll_micro") / F.count("*") + 0.5)
        .cast("bigint")
        .alias("score_micro")
    )
    ranked = global_rank(ds, ["score_micro", "doc_id"], rank_col="rn")
    n_total = ds.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            F.when(F.col("rn") * 3 <= F.col("n"), "head")
            .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .groupBy("bucket", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ----------------------------- bitmap exact distinct (E13/X)
@query(
    "q212_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    tags=("E13", "X", "sketch"),
)
def q212_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (the RoaringBitmap
    warehouse pattern, Spark's bitmap_* aggregate family): user ids are
    bucketed into fixed 32k-bit bitmap segments
    (bitmap_bucket_number/bitmap_bit_position), each (type, bucket) group
    reduces to ONE bitmap via bitmap_construct_agg — a map-side-combining,
    constant-size partial — and the per-type distinct count is the SUM of
    per-bucket bitmap_count. Unlike COUNT(DISTINCT), whose partials carry
    every distinct value through the shuffle (O(distinct) bytes per
    group), the bitmap partial is ≤4 KB per (group, bucket) no matter how
    many rows hit it, and OR-merge is associative — the same structure a
    10-stage incremental rollup (q134) can persist and re-merge. Exact,
    not approximate: the complement of q16's HLL++ tradeoff."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    per_bucket = (
        ev.groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bk"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
        .select("event_type", F.expr("bitmap_count(bm)").alias("c"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_users")
    )


# ----------------------------- bucketed co-located join (X1)
@query(
    "q213_bucketed_join",
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    tags=("X1", "E3", "E10"),
)
def q213_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (X1 promoted to the oracle tier): both
    sides are written as 8-bucket tables keyed and sorted on the order
    key (operators/bucketing.py write_bucketed, external tables in a
    temp layout), and the recurring lineitem⋈orders join then reads
    matching buckets in the same task — NO Exchange on either side
    (tests/test_scale_ops.py pins the plan; only the final rollup
    shuffles). At 100 TB this converts the star schema's single largest
    network cost into a local merge: pay the bucketed write once, join
    for free on every subsequent query. Results must equal the plain
    shuffled join — bucketing is a layout choice, never a semantics
    choice."""
    import tempfile

    from rdkafka_streams_spark.functions.money import disc_price_expr, sum_money
    from rdkafka_streams_spark.operators.bucketing import write_bucketed

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="q213_buckets_")
    for name, df, key, sort in (
        ("q213_lineitem_b", li, "l_orderkey", "l_orderkey"),
        ("q213_orders_b", o, "o_orderkey", "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        bc = [key]
        writer = (
            df.write.mode("overwrite")
            .bucketBy(8, *bc)
            .sortBy(sort)
            .option("path", f"{base}/{name}")
        )
        writer.saveAsTable(name)
    lb = spark.table("q213_lineitem_b")
    ob = spark.table("q213_orders_b")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            sum_money(disc_price_expr(), "revenue"),
        )
    )


# ----------------------------- SQL API surface (E/SQL)
@query(
    "q214_sql_api_tpch_q3",
    oracle=f"""
SELECT l.l_orderkey,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey LIMIT 10
""",
    tags=("E-SQL", "E3", "E10", "E18"),
)
def q214_sql_api_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority) expressed through the ``spark.sql``
    SURFACE over registered temp views — the engine's second first-class
    query language next to the DataFrame API (SURVEY §1.3: declare the
    logical plan, let Catalyst pick the physical one; both APIs compile
    to the same plan, and this query would hit the same broadcast-dim +
    single-shuffle shape as q12). Adapted to the fixture's schema
    (o_orderpriority for the absent o_shippriority). Exact decimal
    revenue; total-ordered top-10 with the order key as tiebreak."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q214_{t}")
    return spark.sql(
        f"""
SELECT l.l_orderkey,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       date_format(o.o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate,
       o.o_orderpriority
FROM q214_customer c
JOIN q214_orders o   ON c.c_custkey = o.o_custkey
JOIN q214_lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey LIMIT 10
"""
    )


# ----------------------------- dataset card (L4/L-prep)
@query(
    "q215_dataset_card",
    oracle="""
WITH tk AS (
  SELECT doc_id, source, lang, md5(text) AS h,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks,
         n_chars
  FROM documents),
dup AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT h) AS n_unique_texts,
         COUNT(DISTINCT lang) AS n_langs
  FROM tk GROUP BY source),
med AS (
  SELECT source, CAST(MIN(n_chars) AS BIGINT) AS p50_chars FROM (
    SELECT source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM tk)
  WHERE rn * 2 >= n + 1 AND rn * 2 <= n + 2
  GROUP BY source)
SELECT d.source,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       d.total_tokens,
       CAST(d.n_docs - d.n_unique_texts AS BIGINT) AS n_exact_dups,
       CAST(d.n_langs AS BIGINT) AS n_langs,
       m.p50_chars
FROM dup d JOIN med m USING (source)
""",
    tags=("L4", "L-prep", "X9"),
)
def q215_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary per source — the per-subcorpus fact sheet a
    training-data release ships (docs, token mass, exact-dup burden,
    language spread, median length): one corpus pass for the counters +
    one bounded per-source rank for the exact median (lower median =
    deterministic; the q127 exact-quantile discipline). Exact-dup count
    is hash-grouped (md5 of the full text, the q50 canonical-keep rule).
    At 100 TB every stat here is a partial-aggregable counter except the
    median, which range-partitions per source."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_toks"),
    )
    counters = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        (F.count("*") - F.countDistinct("h")).cast("bigint").alias("n_exact_dups"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    cw = Window.partitionBy("source")
    med = (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(cw))
        .where((F.col("rn") * 2 >= F.col("n") + 1) & (F.col("rn") * 2 <= F.col("n") + 2))
        .groupBy("source")
        .agg(F.min("n_chars").cast("bigint").alias("p50_chars"))
    )
    return counters.join(med, "source")


# ----------------------------- streaming dedup over the wire (T5)
@query(
    "q216_streaming_dedup",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    tags=("T5", "T-streaming"),
)
def q216_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates THROUGH the transport (T5 to the oracle
    tier): the keyed event stream deduplicates on (user_id, event_type)
    in the state store — first arrival per key is emitted exactly once
    in append mode, every later arrival is suppressed — and the emitted
    KEY SET is rolled up per type. The output is deliberately keys-only:
    which physical record survives depends on arrival interleaving, but
    the surviving key set is arrival-order-independent, so the oracle is
    exact (COUNT(DISTINCT)). State here is O(distinct keys) and held for
    the stream's lifetime — the bounded-retention variant
    (dropDuplicatesWithinWatermark, which trades exactness across the
    horizon for eviction) is covered by
    tests/test_streaming.py::test_streaming_dedup_within_watermark.
    q212 computes the same answer as a batch bitmap — this is the
    streaming-state path."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q216_bus")
    ck = tempfile.mkdtemp(prefix="q216_ck")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    seed = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    KProducer(host=root, topic="ev", transport="topiclog").write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="event_id long, user_id long, event_type string, ts_us long",
        transport="topiclog", batch_size=4096,
    )
    dec = (
        c.stream(spark)
        .select(
            F.col("value.user_id").alias("user_id"),
            F.col("value.event_type").alias("event_type"),
        )
        .dropDuplicates(["user_id", "event_type"])
    )
    name = "q216_keys"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutdown(q, 60)
    return spark.table(name).groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


# ----------------------------- LSH quality audit (L2/X)
def _lsh_audit_oracle() -> str:
    from rdkafka_streams_spark.llm.dedup import MAX_BUCKET, N_BANDS, N_HASHES

    rows = N_HASHES // N_BANDS
    mins = ",\n       ".join(f"MIN(md5('{s}:' || tok)) AS h{s}" for s in range(N_HASHES))
    bands = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS bi, {expr} AS bv FROM sig".format(
            b=b, expr=" || ".join(f"h{b * rows + i}" for i in range(rows))
        )
        for b in range(N_BANDS)
    )
    agree = " + ".join(f"CAST(s1.h{s} = s2.h{s} AS INT)" for s in range(N_HASHES))
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
sig AS (SELECT doc_id, {mins} FROM tok GROUP BY doc_id),
band0 AS (
  {bands}),
band AS (
  SELECT doc_id, bi, bv FROM (
    SELECT doc_id, bi, bv, COUNT(*) OVER (PARTITION BY bi, bv) AS bsz FROM band0)
  WHERE bsz <= {MAX_BUCKET}),
cand0 AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM band a JOIN band b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
cand AS (
  SELECT id1, id2 FROM (
    SELECT c.id1, c.id2, ({agree}) / {N_HASHES}.0 AS sim_est
    FROM cand0 c JOIN sig s1 ON c.id1 = s1.doc_id JOIN sig s2 ON c.id2 = s2.doc_id)
  WHERE sim_est >= 0.5),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
verify AS (
  SELECT c.id1, c.id2, cm.c * 1.0 / (sa.sz + sb.sz - cm.c) AS jac
  FROM cand c
  JOIN (SELECT ca.id1, ca.id2, COUNT(*) AS c
        FROM cand ca
        JOIN tok t1 ON t1.doc_id = ca.id1
        JOIN tok t2 ON t2.doc_id = ca.id2 AND t1.tok = t2.tok
        GROUP BY ca.id1, ca.id2) cm ON c.id1 = cm.id1 AND c.id2 = cm.id2
  JOIN sizes sa ON c.id1 = sa.doc_id
  JOIN sizes sb ON c.id2 = sb.doc_id),
d AS (
  SELECT doc_id, lang || '|' || CAST(n_chars // 100 AS VARCHAR) AS blk FROM documents),
btok AS (SELECT t.doc_id, d.blk, t.tok FROM tok t JOIN d ON t.doc_id = d.doc_id),
bsizes AS (SELECT doc_id, blk, COUNT(*) AS sz FROM btok GROUP BY 1, 2),
truth AS (
  SELECT id1, id2 FROM (
    SELECT co.id1, co.id2, co.c * 1.0 / (sa.sz + sb.sz - co.c) AS jaccard
    FROM (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
          FROM btok a JOIN btok b ON a.blk = b.blk AND a.tok = b.tok
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2) co
    JOIN bsizes sa ON co.id1 = sa.doc_id
    JOIN bsizes sb ON co.id2 = sb.doc_id)
  WHERE jaccard >= 0.8),
hit AS (SELECT t.id1 FROM truth t JOIN cand c ON t.id1 = c.id1 AND t.id2 = c.id2),
prec AS (SELECT COUNT(*) AS n_precise FROM verify WHERE jac >= 0.5)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       CAST((SELECT COUNT(*) FROM hit) * 1000000
            // GREATEST((SELECT COUNT(*) FROM truth), 1) AS BIGINT) AS recall_ppm,
       CAST((SELECT n_precise FROM prec) AS BIGINT) AS n_precise,
       CAST((SELECT n_precise FROM prec) * 1000000
            // GREATEST((SELECT COUNT(*) FROM cand), 1) AS BIGINT) AS precision_ppm
"""


@query("q217_lsh_recall_audit", oracle=_lsh_audit_oracle(), tags=("L2", "X"))
def q217_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the approximate dedup path — the measurement every
    production LSH deployment ships with: RECALL of the q51 MinHash-LSH
    candidates against the exact blocked Jaccard-≥0.8 ground truth (q52's
    set), and PRECISION of the candidates against exact Jaccard ≥ 0.5
    computed ONLY on candidate pairs (the verify stage is bounded by
    |candidates| — never quadratic). One summary row in exact counts +
    integer ppm, so tuning n_bands/rows has a measurable, oracle-checked
    effect. The sketch construction is md5-based and engine-independent,
    which is what makes a full cross-engine audit possible at all."""
    from rdkafka_streams_spark.llm.dedup import jaccard_pairs, minhash_near_dups

    docs = _t(spark, sf_dir, "documents")
    cand = minhash_near_dups(docs, threshold=0.5).select("id1", "id2")
    blocked = docs.withColumn(
        "blk", F.concat_ws("|", F.col("lang"), F.expr("n_chars div 100").cast("string"))
    )
    truth = jaccard_pairs(blocked, threshold=0.8, block_col="blk").select("id1", "id2")
    # exact verify on candidate pairs only
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t1 = tok.select(F.col("doc_id").alias("id1"), F.col("tok").alias("tk1"))
    t2 = tok.select(F.col("doc_id").alias("id2r"), F.col("tok").alias("tk2"))
    common = (
        cand.join(t1, "id1")
        .join(t2, (F.col("id2") == F.col("id2r")) & (F.col("tk1") == F.col("tk2")))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("c"))
    )
    verify = (
        common.join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "sa"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "sb"), "id2")
        .where(F.col("c") * 1.0 / (F.col("sa") + F.col("sb") - F.col("c")) >= 0.5)
    )
    n_truth = truth.count()
    n_cand = cand.count()
    n_hit = truth.join(cand, ["id1", "id2"]).count()
    n_precise = verify.count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_cand,
                n_hit,
                n_hit * 1000000 // max(n_truth, 1),
                n_precise,
                n_precise * 1000000 // max(n_cand, 1),
            )
        ],
        "n_truth long, n_candidates long, n_hit long, recall_ppm long, "
        "n_precise long, precision_ppm long",
    )


# ----------------------------- SQL LATERAL join (E-SQL/E31/E18)
@query(
    "q218_lateral_topn",
    oracle="""
SELECT o.o_orderkey, t.l_linenumber,
       CAST(CAST(t.l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
FROM orders o JOIN LATERAL (
  SELECT l_linenumber, l_extendedprice FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t ON TRUE
WHERE o.o_orderpriority = '1-URGENT'
""",
    tags=("E-SQL", "E31", "E18"),
)
def q218_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the SQL
    spelling of top-N-per-group (q39's window form): for every urgent
    order, its 2 most expensive line items. Catalyst decorrelates the
    lateral into the same ranked-window/join shape a hand-written q39
    produces — proving the engine's subquery surface covers the
    correlated-limit case both DuckDB and Postgres users write. Price
    emitted through exact DECIMAL; line number totalizes the per-order
    order."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q218_{t}")
    return spark.sql(
        """
SELECT o.o_orderkey, t.l_linenumber,
       CAST(CAST(t.l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
FROM q218_orders o JOIN LATERAL (
  SELECT l_linenumber, l_extendedprice FROM q218_lineitem l
  WHERE l.l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
WHERE o.o_orderpriority = '1-URGENT'
"""
    )


# ----------------------------- CSV source/sink round-trip (S7)
@query(
    "q219_csv_roundtrip",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us
FROM events GROUP BY event_type
""",
    tags=("S7", "R3", "R4"),
)
def q219_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + explicit-schema CSV source round-trip (S7 beyond parquet
    and q198's JSONL): events serialize to headered CSV shards —
    timestamps carried as integer epoch-µs so the text format is
    timezone- and precision-exact — and the read-back declares the
    schema (no inference scan: at 100 TB, schema inference is a full
    extra pass). The rollup over the round-tripped frame must equal the
    oracle over the original parquet; cents snapped before the SUM."""
    import tempfile

    out = tempfile.mkdtemp(prefix="q219_csv_")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema("event_id long, event_type string, ts_us long, cents long")
        .option("header", True)
        .csv(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
        F.min("ts_us").cast("bigint").alias("first_us"),
    )


# ----------------------------- schema evolution (S7/X)
@query(
    "q220_schema_evolution",
    oracle="""
WITH unioned AS (
  SELECT user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_id % 2 = 1 THEN event_type ELSE NULL END AS channel
  FROM events)
SELECT COALESCE(channel, '__missing__') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM unioned GROUP BY 1
""",
    tags=("S7", "X"),
)
def q220_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across ingest batches — the layout reality of any
    long-lived 100 TB table: batch 1 was written BEFORE the ``channel``
    column existed, batch 2 after. ``mergeSchema`` unifies the footers at
    read time (old files surface NULL for the new column — no rewrite of
    petabytes of history), and the rollup routes pre-evolution rows to a
    sentinel bucket. The oracle reconstructs the same union relationally.
    mergeSchema is a per-read opt-in because footer-merging every query
    is an O(files) planning cost — turn it on for evolving prefixes
    only."""
    import tempfile

    out = tempfile.mkdtemp(prefix="q220_evo_")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_type",
    )
    ev.where(F.col("event_id") % 2 == 0).select("user_id", "cents").write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=1")
    ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", "cents", F.col("event_type").alias("channel")
    ).write.mode("overwrite").parquet(f"{out}/batch=2")
    back = spark.read.option("mergeSchema", True).parquet(out)
    return back.groupBy(
        F.coalesce(F.col("channel"), F.lit("__missing__")).alias("channel")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# ----------------------------- k-hop BFS (X/graph)
_BFS_HOPS = 3


def _bfs_oracle(hops: int) -> str:
    stages = [
        """
li AS (SELECT l_orderkey, l_partkey FROM lineitem),
w0 AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
e AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM w0 UNION ALL SELECT p2, p1 FROM w0),
src AS (SELECT MIN(a) AS s FROM e),
d0 AS (SELECT s AS node, 0 AS dist FROM src)"""
    ]
    for i in range(hops):
        stages.append(
            f"""
d{i + 1} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i}
    UNION ALL
    SELECT e.b AS node, d.dist + 1 AS dist FROM d{i} d JOIN e ON e.a = d.node)
  GROUP BY node)"""
        )
    return (
        "WITH "
        + ",".join(stages)
        + f"""
SELECT node AS part_id, CAST(dist AS BIGINT) AS dist FROM d{hops}"""
    )


@query("q221_bfs_hops", oracle=_bfs_oracle(_BFS_HOPS), tags=("X", "graph"))
def q221_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS frontier expansion from the minimum node of the weight-≥2
    co-purchase graph — the reachability primitive under impact analysis
    ("what does this product touch within 3 recommendation hops?") and
    the building block of distributed shortest paths (Pregel's roundwise
    relax). Each round is ONE frontier⋈edges join + a min-dist rollup,
    localCheckpoint-truncated (the q204/connected-components iterative
    discipline); k rounds touch k·|frontier-adjacent| edges, never the
    whole graph per round. Fixed k keeps the oracle an unrolled k-stage
    relaxation — same rule, same result."""
    from rdkafka_streams_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(
        _t(spark, sf_dir, "lineitem"), min_weight=2
    ).localCheckpoint()
    dist = (
        edges.agg(F.min("a").alias("node"))
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    for _ in range(_BFS_HOPS):
        expanded = dist.join(edges, dist.node == edges.a).select(
            F.col("b").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist.select(F.col("node").alias("part_id"), F.col("dist").cast("bigint").alias("dist"))


# ----------------------------- HLL mergeable-sketch rollup (E13/X10)
@query(
    "q222_hll_merge_audit",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS est_within_5pct
FROM events GROUP BY event_type
""",
    tags=("E13", "X10", "sketch"),
)
def q222_hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch ROLLUP with an in-query accuracy audit: daily
    per-type sketches (hll_sketch_agg — the persistable partial an
    incremental pipeline stores per partition/day, the q134 merge
    discipline applied to distincts) union into a monthly estimate
    (hll_union_agg), which is then audited against the exact count
    computed in the same query. The emitted verdict — |est − exact| ≤ 5 %
    — is DETERMINISTIC: HLL registers are per-bucket maxima, so the
    merged sketch is a function of the SET, not of arrival or merge
    order; DataSketches' standard error at default lgK=12 is ~1.6 %, so
    the 5 % gate has wide margin. The oracle asserts the exact counts and
    the audit verdict (an engine cannot fake the flag without an estimate
    inside the bound). Pattern: q16's HLL++ is fire-and-forget
    approximate; THIS is the production shape — sketches as stored,
    mergeable state with a measured error contract."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact")) * 20 <= F.col("n_exact")
        ).alias("est_within_5pct"),
    )


# ----------------------------- tombstone compaction state (S1/S2/X7)
@query(
    "q223_tombstone_state",
    oracle="""
WITH latest AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
FROM latest
WHERE rn = 1 AND user_id % 5 <> 0
GROUP BY event_type
""",
    tags=("S1", "S2", "X7", "T-streaming"),
)
def q223_tombstone_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka DELETE-marker semantics end-to-end (the half of compacted-
    topic state q179 left out): every event is produced keyed by user in
    event-time order, then a NULL-value TOMBSTONE is appended for every
    user_id % 5 == 0 (the sink requires the explicit ``tombstones=true``
    opt-in — a silent null would otherwise corrupt state), the topic is
    compacted (latest record per key survives at its ORIGINAL offset;
    keys whose latest record is a tombstone VANISH — Kafka cleaner
    semantics, topiclog.py:396), and per-type state counts are rebuilt
    from the surviving log. The oracle derives the same from the events
    table: latest event per user, deleted users excluded. This is the
    GDPR-deletion / entity-retirement path of the changelog-as-table
    pattern."""
    import tempfile

    from rdkafka_streams_spark.streaming import TopicLog, read_topic
    from rdkafka_streams_spark.streaming.topiclog import register

    root = tempfile.mkdtemp(prefix="q223_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("state", partitions=n_parts)
    register(spark)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    upd = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct("user_id", "event_type", "ts_us")).alias("value"),
        F.col("ts_us").alias("__ord"),
        F.col("event_id").alias("__tie"),
    )
    # tombstones sort AFTER every update of their key (max ts + 1)
    from pyspark.sql import Window as _W

    maxts = ev.agg(F.max("ts_us").alias("m"))
    tomb = (
        ev.where(F.col("user_id") % 5 == 0)
        .select("user_id").distinct()
        .crossJoin(F.broadcast(maxts))
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.lit(None).cast("string").alias("value"),
            (F.col("m") + 1).alias("__ord"),
            F.lit(0).alias("__tie"),
        )
    )
    seed = (
        upd.unionAll(tomb)
        .withColumn(
            "partition",
            F.pmod(F.col("key").cast("long"), F.lit(n_parts)).cast("int"),
        )
        .repartition(n_parts, "partition")
        .sortWithinPartitions("__ord", "__tie")
        .select("key", "value", "partition")
    )
    seed.write.format("topiclog").option("path", root).option("topic", "state").option(
        "tombstones", "true"
    ).mode("append").save()
    log.compact("state")
    raw = read_topic(spark, root, "state")
    return (
        raw.select(
            F.from_json(
                F.col("value").cast("string"),
                "user_id long, event_type string, ts_us long",
            ).alias("v")
        )
        .groupBy(F.col("v.event_type").alias("event_type"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


# ----------------------------- content checksum reconciliation (X)
@query(
    "q224_table_checksum",
    oracle="""
WITH rows_c AS (
  SELECT event_type,
         md5(CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) || '|'
             || event_type || '|' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR)
             || '|' || CAST(epoch_us(ts) AS VARCHAR)) AS h
  FROM events),
v AS (
  SELECT event_type,
         list_sum(list_transform(range(1, 11),
           p -> CAST(instr('0123456789abcdef', substring(h, p, 1)) - 1 AS BIGINT)
                * CAST(power(16, 10 - p) AS BIGINT))) AS chk
  FROM rows_c)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(chk) AS BIGINT) AS checksum
FROM v GROUP BY event_type
""",
    tags=("X", "X9"),
)
def q224_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free content checksums for table reconciliation (the
    anti-entropy primitive behind replica comparison, migration
    validation, and cross-engine copies — literally what this repo's own
    oracle gate does, exposed as an operator): every row folds to a
    canonical pipe-joined string, its md5 prefix becomes a 40-bit
    integer, and the per-group SUM is an order-independent content
    fingerprint — two tables match iff (n, checksum) match per group,
    with any difference localized to the group. 40-bit terms keep the
    BIGINT sum overflow-free past 10^7 rows per group; both engines
    compute the identical fold from the identical md5 hex. One map-side
    pass + one small agg."""
    from rdkafka_streams_spark.functions.checksum import content_checksum

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        content_checksum(
            [
                "event_id",
                "user_id",
                "event_type",
                F.round(F.col("value") * 100).cast("bigint"),
                F.unix_micros("ts"),
            ]
        ).alias("chk"),
    )
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("chk").cast("bigint").alias("checksum"),
    )


# ----------------------------- streaming session_window (T3)
@query(
    "q225_streaming_sessions",
    oracle="""
WITH l AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > 1800000000
              THEN 1
              WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                   IS NULL THEN 1
              ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts_us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM l)
SELECT user_id,
       CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
    tags=("T3", "T-streaming"),
)
def q225_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation as a STREAM through the
    transport (T3 over the wire; q42 is the batch form, q207 the
    custom-state form): 30-minute-gap sessions per user. The engine
    restricts session-window streaming aggs to append/complete output
    (update is rejected — session identities can merge, so per-key
    updates are not well-defined in general); append + watermark is the
    production mode but only emits sessions the watermark has passed —
    the trailing-session truncation that makes an exact oracle
    engine-timing-dependent (the T4 negative result, SURVEY §8.4). For a
    bounded replay the COMPLETE snapshot is the exact answer: the memory
    sink's final state is the full session set, which must equal the
    gaps-and-islands oracle. The seed stays keyed and event-time-ordered
    per partition (q179 discipline) so multi-batch session extension is
    exercised, not just one-shot aggregation."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q225_bus")
    ck = tempfile.mkdtemp(prefix="q225_ck")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    tp = (F.crc32(F.col("user_id").cast("string").cast("binary")) % n_parts).cast("int")
    seed = (
        ev.withColumn("__tp", tp)
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("user_id", "ts_us", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="user_id long, ts_us long", transport="topiclog",
        batch_size=2048,
    )
    dec = c.stream(spark).select(
        F.col("value.user_id").alias("user_id"),
        F.timestamp_micros(F.col("value.ts_us")).alias("ts"),
    )
    agg = dec.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n"))
    name = "q225_sessions"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    return spark.table(name).select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.col("n").cast("bigint").alias("n_events"),
    )


# ----------------------------- two-hop stream pipeline (S1+S2+R7)
@query(
    "q226_two_hop_pipeline",
    oracle="""
WITH enr AS (
  SELECT user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
  FROM events
  WHERE event_type IN ('purchase', 'refund')),
agg AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM enr GROUP BY day)
SELECT day, n, cents FROM agg
""",
    tags=("S1", "S2", "R7", "R1", "T-streaming"),
)
def q226_two_hop_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CANONICAL topology, two hops deep: consumer →
    user transform → producer feeding a SECOND consumer → aggregate
    (README.md:41-64 pipes a Consumer through Transforms into a
    Producer; test/test_getDuplex.coffee:57-76 chains them). Hop 1
    consumes the raw topic, filters to money events and reshapes the
    record (the reference's per-record Transform — R1+R7 as one
    map-side stage), and STREAMS the result into an intermediate
    'enriched' topic via the streaming sink (checkpointed — each hop is
    independently restartable, the real reason multi-hop topologies use
    a durable intermediate instead of one long query). Hop 2 consumes
    'enriched' and maintains the per-day rollup in update mode (q181
    closure). The oracle collapses both hops relationally."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q226_bus")
    log = TopicLog(root)
    log.create_topic("raw", partitions=4)
    log.create_topic("enriched", partitions=4)
    seed = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    )
    KProducer(host=root, topic="raw", transport="topiclog").write_batch(seed)
    # hop 1: raw -> transform -> enriched (streaming, checkpointed)
    c1 = KConsumer(
        host=root, topic="raw", from_offset="earliest",
        schema="event_id long, user_id long, event_type string, cents long, day string",
        transport="topiclog", batch_size=4096,
    )
    hop1 = (
        c1.stream(spark)
        .where(F.col("value.event_type").isin("purchase", "refund"))
        .select(
            F.col("value.user_id").alias("user_id"),
            F.col("value.cents").alias("cents"),
            F.col("value.day").alias("day"),
        )
    )
    q1 = KProducer(
        host=root, topic="enriched", transport="topiclog",
        checkpoint=tempfile.mkdtemp(prefix="q226_ck1"),
    ).write(hop1, trigger="0.2 seconds")
    q1.processAllAvailable()
    shutdown(q1, 60)
    # hop 2: enriched -> per-day rollup (update mode, last-value closure)
    c2 = KConsumer(
        host=root, topic="enriched", from_offset="earliest",
        schema="user_id long, cents long, day string",
        transport="topiclog", batch_size=4096,
    )
    agg = (
        c2.stream(spark)
        .groupBy(F.col("value.day").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value.cents").alias("cents"),
        )
    )
    name = "q226_rollup"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q2 = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="q226_ck2"))
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q2.processAllAvailable()
    shutdown(q2, 60)
    return (
        spark.table(name)
        .groupBy("day")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("cents").cast("bigint").alias("cents"),
        )
    )


# ----------------------------- checkpoint resume (S4/F6/T8)
@query(
    "q227_checkpoint_resume",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
    tags=("S4", "F6", "T8", "T-streaming"),
)
def q227_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed offset resume across RESTARTS — the consumer-group
    semantics behind the reference's ``groupId`` (src/Consumer.coffee:22,
    where librdkafka tracks committed offsets): run 1 consumes everything
    produced so far and SHUTS DOWN; more data lands on the topic; run 2
    starts from the SAME checkpoint and consumes exactly the delta — the
    committed offsets, not startingOffsets, decide where it resumes (the
    checkpoint is the real progress tracker, SURVEY §1.3). Both runs
    write through the idempotent batch-id-overwrite sink (q189's), and
    the final table must hold every event EXACTLY once — no replays of
    run 1's range, no gaps at the restart boundary."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown
    from rdkafka_streams_spark.streaming.sinks import foreach_batch_overwrite

    root = tempfile.mkdtemp(prefix="q227_bus")
    sink = tempfile.mkdtemp(prefix="q227_sink")
    ck = tempfile.mkdtemp(prefix="q227_ck")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    prod = KProducer(host=root, topic="ev", transport="topiclog")

    def run() -> None:
        c = KConsumer(
            host=root, topic="ev", from_offset="earliest",
            schema="event_id long, event_type string, cents long",
            transport="topiclog", batch_size=1024,
        )
        dec = c.stream(spark).select(
            "value.event_id", "value.event_type", "value.cents"
        )
        q = foreach_batch_overwrite(dec, sink, ck, trigger_available_now=False)
        q.processAllAvailable()
        shutdown(q, 60)

    prod.write_batch(ev.where(F.col("event_id") % 2 == 0))
    run()  # consumes the first half, commits offsets, stops
    prod.write_batch(ev.where(F.col("event_id") % 2 == 1))
    run()  # resumes from the committed offsets: delta only
    out = spark.read.parquet(sink)
    return out.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# ----------------------------- dead-letter split (R3/T8)
@query(
    "q228_dlq_split",
    oracle="""
SELECT CASE WHEN event_id % 97 = 0 THEN '__dlq__' ELSE event_type END AS route,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
    tags=("R3", "T8", "T-streaming"),
)
def q228_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing THROUGH the transport (R3's error path to the
    oracle tier): every 97th record is poisoned with malformed JSON at
    produce time, and the consumer splits ONE source scan into a good
    stream (typed records flow on) and a DLQ stream (original bytes +
    envelope intact for replay) via decode_with_dlq — the
    PERMISSIVE/corrupt-record alternative to the reference's
    abort-the-whole-stream-on-one-bad-record semantics
    (src/Consumer.coffee:106-108), which is unacceptable when one
    poisoned message can stall a 100 TB/day topic. Both routes land in
    the same rollup keyed by route; the oracle reconstructs the poison
    rule relationally. FAILFAST (the reference's exact behavior) remains
    the default elsewhere."""
    import tempfile

    from rdkafka_streams_spark.streaming import TopicLog, shutdown
    from rdkafka_streams_spark.streaming.consumer import decode_with_dlq
    from rdkafka_streams_spark.streaming.topiclog import register

    root = tempfile.mkdtemp(prefix="q228_bus")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    register(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    seed = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.when(
            F.col("event_id") % 97 == 0,
            F.concat(F.lit('{"bad'), F.col("event_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct("event_id", "event_type", "user_id")))
        .alias("value"),
        F.pmod("event_id", F.lit(4)).cast("int").alias("partition"),
    )
    seed.write.format("topiclog").option("path", root).option("topic", "ev").mode(
        "append"
    ).save()
    raw = (
        spark.readStream.format("topiclog")
        .option("path", root)
        .option("subscribe", "ev")
        .option("startingOffsets", "earliest")
        .option("batchSize", "4096")
        .load()
    )
    good, bad = decode_with_dlq(raw, "event_id long, event_type string, user_id long")
    for name, df in (("q228_good", good), ("q228_bad", bad)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"{name}_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        shutdown(q, 60)
    good_n = spark.table("q228_good").groupBy(
        F.col("value.event_type").alias("route")
    ).agg(F.count("*").cast("bigint").alias("n"))
    bad_n = spark.table("q228_bad").groupBy(
        F.lit("__dlq__").alias("route")
    ).agg(F.count("*").cast("bigint").alias("n"))
    return good_n.unionAll(bad_n)


# ----------------------------- hard-negative mining (L3)
@query(
    "q229_hard_negatives",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
           FROM embeddings WHERE vec_id < 10),
pr AS (
  SELECT q.q_id, e.vec_id,
         {_dot_sql('e.embedding', 'q.q_emb')} AS dot,
         sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS na,
         sqrt({_dot_sql('q.q_emb', 'q.q_emb')}) AS nq
  FROM embeddings e CROSS JOIN q
  WHERE e.label <> q.q_label)
SELECT q_id, vec_id, ROUND(cos, 6) AS cos FROM (
  SELECT q_id, vec_id, dot / (na * nq) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot / (na * nq) DESC, vec_id) AS rn
  FROM pr)
WHERE rn <= 2
""",
    tags=("L3", "L-prep"),
)
def q229_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the data-prep step
    behind embedding-model fine-tuning): for each anchor, the 2 most
    cosine-similar vectors with a DIFFERENT label — maximally confusing
    negatives. The label-inequality predicate rides the candidate join
    (per-vector norms factored below it, the cosine_topk discipline);
    at 100 TB the candidate set comes from the ANN index (q55/q92) with
    the label filter applied post-prune — same shape, pruned scan.
    Total-ordered top-2 per anchor."""
    from pyspark.sql import Window

    from rdkafka_streams_spark.llm.similarity import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings").withColumn("__nrm", _norm("embedding"))
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        F.col("__nrm").alias("q_nrm"),
    )
    pairs = emb.join(F.broadcast(q), F.col("label") != F.col("q_label")).select(
        "q_id",
        "vec_id",
        (_dot("embedding", "q_emb") / (F.col("__nrm") * F.col("q_nrm"))).alias("_cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("q_id", "vec_id", F.round("_cos", 6).alias("cos"))
    )


# ----------------------------- compaction preserves content (X10)
@query(
    "q230_compaction_rewrite",
    oracle="""
WITH rows_c AS (
  SELECT event_type,
         md5(CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) || '|'
             || event_type || '|' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR))
           AS h
  FROM events),
v AS (
  SELECT event_type,
         list_sum(list_transform(range(1, 11),
           p -> CAST(instr('0123456789abcdef', substring(h, p, 1)) - 1 AS BIGINT)
                * CAST(power(16, 10 - p) AS BIGINT))) AS chk
  FROM rows_c)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(chk) AS BIGINT) AS checksum
FROM v GROUP BY event_type
""",
    tags=("X10", "X"),
)
def q230_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction EXECUTED, with content proven preserved: the
    table is first fragmented into ~64 shard files (what an
    over-parallel streaming sink leaves behind — at 100 TB, scan cost is
    dominated by file COUNT once files are small: open/footer/seek per
    file), rewritten by core/io.compact() to target-sized files, and the
    q224 order-free checksum of the compacted copy must equal the
    oracle's checksum of the ORIGINAL data — maintenance must be
    invisible to readers, byte-for-byte. q133 plans this maintenance
    from metadata; this query performs it."""
    import tempfile

    from rdkafka_streams_spark.core.io import compact as compact_dir

    frag = tempfile.mkdtemp(prefix="q230_frag_")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    compact_dir(spark, frag, target_file_bytes=4 * 1024 * 1024)
    back = spark.read.parquet(frag)
    from rdkafka_streams_spark.functions.checksum import content_checksum

    chk = content_checksum(["event_id", "user_id", "event_type", "cents"])
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(chk).cast("bigint").alias("checksum"),
    )


# ----------------------------- ORC round-trip (S7)
@query(
    "q231_orc_roundtrip",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l_quantity) AS BIGINT) AS qty
FROM lineitem GROUP BY 1, 2
""",
    tags=("S7",),
)
def q231_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (S7 format breadth: parquet, JSONL
    q198, CSV q219, ORC here — the second columnar format a lakehouse
    actually encounters, with its own predicate-pushdown/statistics
    stack). The rollup over the round-tripped copy must equal the
    oracle over the original parquet — the storage format is a layout
    choice, never a semantics choice (the q213 rule applied to
    formats). Quantity snapped to BIGINT (fixture quantities are
    integral)."""
    import tempfile

    out = tempfile.mkdtemp(prefix="q231_orc_")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("bigint").alias("qty")
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("qty").cast("bigint").alias("qty"),
    )


# ----------------------------- null-safe join (E3/E26)
@query(
    "q232_null_safe_join",
    oracle="""
WITH a AS (
  SELECT event_id, CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS uk
  FROM events WHERE event_type = 'purchase'),
b AS (
  SELECT event_id, CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS uk
  FROM events WHERE event_type = 'error')
SELECT CASE WHEN a.uk IS NULL THEN -1 ELSE a.uk END AS user_key,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.uk IS NOT DISTINCT FROM b.uk
GROUP BY 1
""",
    tags=("E3", "E26"),
)
def q232_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM) — the
    semantics corner every entity-resolution pipeline hits: records with
    an UNKNOWN key (nulled-out here for user_id % 7 = 0) must match EACH
    OTHER under null-safe equality, where ordinary ``=`` silently drops
    them from the join entirely. Spark plans ``<=>`` as a hash join on
    the null-safe key (nulls hash to one bucket — a documented skew
    hazard when the null fraction is high; salt or pre-split the null
    class at 100 TB, q70's remedy). The null match-group is surfaced as
    sentinel -1."""
    ev = _t(spark, sf_dir, "events")
    uk = F.when(F.col("user_id") % 7 == 0, None).otherwise(F.col("user_id"))
    a = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("a_id"), uk.alias("a_uk")
    )
    b = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"), uk.alias("b_uk")
    )
    return (
        a.join(b, F.col("a_uk").eqNullSafe(F.col("b_uk")))
        .groupBy(
            F.when(F.col("a_uk").isNull(), F.lit(-1))
            .otherwise(F.col("a_uk"))
            .alias("user_key")
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


# ----------------------------- deleteRecords truncation (S-admin)
@query(
    "q233_delete_records",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(user_id % 4 AS INTEGER) AS p
  FROM events),
r AS (
  SELECT p, event_id,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY ts_us, event_id) - 1 AS off,
         COUNT(*) OVER (PARTITION BY p) AS n_part
  FROM e),
k AS (
  SELECT p, off, event_id FROM r
  WHERE (p = 0 AND off >= 120) OR p = 1 OR (p = 2 AND off >= 60))
SELECT p AS partition,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(off) AS BIGINT) AS first_offset,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM k GROUP BY p
""",
    tags=("S4", "X10", "admin"),
)
def q233_delete_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka ``AdminClient.deleteRecords`` semantics end-to-end — the
    retention / right-to-forget truncation path: after a keyed, ordered
    seed (q209 discipline), records below an explicit per-partition
    cutoff are deleted (p0 < 120, p2 < 60, ALL of p3; p1 untouched), and
    a from-earliest batch read of the truncated log must see exactly the
    surviving offsets — first offset per partition EQUALS the cutoff
    (logStartOffset advanced), end offsets NEVER move (positions of
    live consumers stay valid), fully-truncated partitions vanish from
    the result. The oracle reconstructs the cutoffs as per-partition
    row_numbers over the same deterministic order."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = tempfile.mkdtemp(prefix="q233_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "user_id", "ts_us", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(seed)
    ends = log.end_offsets("ev")
    log.delete_records("ev", {0: 120, 2: 60, 3: ends.get(3, 0)})
    assert log.end_offsets("ev") == ends, "deleteRecords must not move end offsets"
    raw = read_topic(spark, root, "ev")
    return (
        raw.select(
            "partition",
            "offset",
            F.from_json(
                F.col("value").cast("string"), "event_id long, user_id long, ts_us long"
            ).alias("v"),
        )
        .groupBy("partition")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("offset").cast("bigint").alias("first_offset"),
            F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
        )
    )


# ----------------------------- pandas-on-Spark API surface (E-API)
@query(
    "q234_pandas_api",
    oracle="""
WITH j AS (
  SELECT o.o_orderpriority, CAST(l.l_quantity AS BIGINT) AS qty
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(qty) AS BIGINT) AS qty
FROM j GROUP BY o_orderpriority
""",
    tags=("E-API", "E3", "E10"),
)
def q234_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark surface (``pyspark.pandas``) — the engine's
    THIRD query language after DataFrame (everything else) and SQL
    (q214/q218): a pandas-shaped merge + groupby that compiles to the
    same Catalyst plan a native join/agg produces, so the pandas idiom a
    data scientist writes scales without a rewrite. ``index_col`` is
    pinned on both read and to_spark (the default attached index is an
    extra column AND a distributed-sequence shuffle hazard — the
    documented pandas-API scale trap). Result proven equal to the
    relational oracle."""
    import pyspark.pandas as pso

    o = pso.read_parquet(f"{sf_dir}/orders.parquet", index_col="o_orderkey")
    li = pso.read_parquet(f"{sf_dir}/lineitem.parquet", index_col="l_linenumber")
    li = li[["l_orderkey", "l_quantity"]]
    li["qty"] = li["l_quantity"].astype("int64")
    merged = li.merge(
        o[["o_orderpriority"]].reset_index(),
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    out = (
        merged.groupby("o_orderpriority")
        .agg(n_lines=("qty", "count"), qty=("qty", "sum"))
        .reset_index()
    )
    return out.to_spark().select(
        "o_orderpriority",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("qty").cast("bigint").alias("qty"),
    )


# ----------------------------- cogrouped pandas (E34/T6)
@query(
    "q235_cogroup_reconcile",
    oracle="""
WITH p AS (
  SELECT user_id, COUNT(*) AS n_p,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents_p
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
e AS (
  SELECT user_id, COUNT(*) AS n_e FROM events WHERE event_type = 'error'
  GROUP BY user_id),
u AS (SELECT user_id FROM p UNION SELECT user_id FROM e)
SELECT u.user_id,
       CAST(COALESCE(p.n_p, 0) AS BIGINT) AS n_purchases,
       CAST(COALESCE(p.cents_p, 0) AS BIGINT) AS purchase_cents,
       CAST(COALESCE(e.n_e, 0) AS BIGINT) AS n_errors
FROM u LEFT JOIN p ON u.user_id = p.user_id LEFT JOIN e ON u.user_id = e.user_id
""",
    tags=("E34", "R7"),
)
def q235_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas (``groupBy().cogroup().applyInPandas``) — the
    two-sided grouped-map surface (E34's fourth member after scalar
    UDF / grouped UDAF / UDTF): both per-user frames — purchases and
    errors — arrive in ONE Arrow batch pair per key, the shape custom
    reconciliation logic needs (ledger-vs-ledger diffs, order-vs-
    shipment matching) where a join would force the pairing logic into
    SQL. Each side is cogroup-partitioned on the key — one shuffle per
    input, state bounded by the per-key group. The pandas body computes
    per-user counts/sums; the oracle reconstructs it as a full outer
    reconciliation."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").groupBy("user_id")
    errors = ev.where(F.col("event_type") == "error").groupBy("user_id")

    def reconcile(key: tuple, pdf_p: pd.DataFrame, pdf_e: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_purchases": len(pdf_p),
                    "purchase_cents": int(pdf_p["cents"].sum()) if len(pdf_p) else 0,
                    "n_errors": len(pdf_e),
                }
            ]
        )

    return purchases.cogroup(errors).applyInPandas(
        reconcile,
        "user_id long, n_purchases long, purchase_cents long, n_errors long",
    )


# ----------------------------- XML round-trip (S7)
@query(
    "q236_xml_roundtrip",
    oracle="""
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n_name
""",
    tags=("S7", "R3", "R4"),
)
def q236_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (S7 breadth: parquet / JSONL q198 /
    CSV q219 / ORC q231 / XML here — the Spark-4 built-in StaxXML
    source, the format enterprise feeds still arrive in): suppliers
    serialize to rowTag-framed XML with money pre-snapped to integer
    cents (text formats get integers, the q219 rule), read back with an
    EXPLICIT schema (no inference pass), and the per-nation rollup must
    equal the oracle over the original parquet."""
    import tempfile

    out = tempfile.mkdtemp(prefix="q236_xml_")
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        (F.col("s_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("acctbal_cents"),
    )
    s.write.format("xml").option("rootTag", "suppliers").option(
        "rowTag", "supplier"
    ).mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .schema("s_suppkey long, s_nationkey long, acctbal_cents long")
        .option("rowTag", "supplier")
        .load(out)
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        back.join(F.broadcast(n), back.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("acctbal_cents").cast("bigint").alias("acctbal_cents"),
        )
    )


# ----------------------------- recursive CTE (E-SQL/graph)
_REACH_SQL = """
WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM {lineitem}),
w0 AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
e AS (SELECT p1 AS a, p2 AS b FROM w0 UNION ALL SELECT p2, p1 FROM w0),
src AS (SELECT MIN(a) AS s FROM e),
reach(node, d) AS (
  SELECT s, 0 FROM src
  UNION ALL
  SELECT e.b, r.d + 1 FROM reach r JOIN e ON e.a = r.node WHERE r.d < 4)
SELECT node AS part_id, CAST(MIN(d) AS BIGINT) AS dist
FROM reach GROUP BY node
"""


@query(
    "q237_recursive_cte",
    oracle=_REACH_SQL.format(lineitem="lineitem"),
    tags=("E-SQL", "E31", "graph"),
)
def q237_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE executed by the ENGINE ITSELF (Spark 4's WITH
    RECURSIVE): 4-hop reachability with shortest distance over the
    co-purchase graph, written as the textbook recursive query — and the
    oracle is the TEXTUALLY IDENTICAL ANSI SQL in DuckDB, the strongest
    cross-engine parity statement in the registry. The recursion is
    depth-bounded in the recursive term (d < 4): the graph is cyclic and
    UNION ALL recursion enumerates walks, so the bound is what keeps the
    working set finite — the MIN(d) rollup then collapses walks to
    shortest hops. q221 is the same computation as an explicit driver
    loop (localCheckpoint per round, the shape to prefer at 100 TB where
    each round should materialize); this proves the declarative spelling
    agrees with it AND with DuckDB. The edge list is localCheckpointed
    BEFORE the recursion and referenced as a view — a plain CTE inside
    WITH RECURSIVE re-evaluates per iteration, so the pair-generation
    self-join would otherwise run once per hop (measured 25 s → 10 s at
    sf0.1; the residual cost is the recursion engine's fixed
    per-iteration planning, which is why q221's explicit loop remains
    the 100 TB shape)."""
    from rdkafka_streams_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(
        _t(spark, sf_dir, "lineitem"), min_weight=2
    ).localCheckpoint()
    edges.createOrReplaceTempView("q237_edges")
    return spark.sql(
        """
WITH RECURSIVE src AS (SELECT MIN(a) AS s FROM q237_edges),
reach(node, d) AS (
  SELECT s, 0 FROM src
  UNION ALL
  SELECT e.b, r.d + 1 FROM reach r JOIN q237_edges e ON e.a = r.node WHERE r.d < 4)
SELECT node AS part_id, CAST(MIN(d) AS BIGINT) AS dist
FROM reach GROUP BY node
"""
    )


# ----------------------------- SQL pipe syntax (E-SQL)
@query(
    "q238_sql_pipe",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
WHERE user_id % 2 = 0
GROUP BY event_type
HAVING COUNT(*) >= 10
""",
    tags=("E-SQL",),
)
def q238_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's ``|>`` operators, the GoogleSQL
    pipe-flow notation): the same logical plan as classic
    WHERE/GROUP BY/HAVING, written as a linear dataflow — the syntax
    bridge for users coming from dataframe-style thinking into SQL.
    Compiles through the identical Catalyst path (filter pushdown,
    partial aggregation all apply); the oracle is the classic-SQL
    spelling, proving the two notations are the same query."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("q238_events")
    return spark.sql(
        """
FROM q238_events
|> WHERE user_id % 2 = 0
|> EXTEND CAST(ROUND(value * 100) AS BIGINT) AS cent_v
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cent_v) AS BIGINT) AS cents
   GROUP BY event_type
|> WHERE n >= 10
|> SELECT event_type, n, cents
"""
    )


# ----------------------------- state store as a table (T7/T8/X)
@query(
    "q239_state_store_read",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
    tags=("T7", "T8", "X", "T-streaming"),
)
def q239_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING STATE STORE read back as a batch table (Spark 4's
    ``statestore`` data source) — the observability primitive streaming
    operations teams need: after a checkpointed stateful aggregation
    consumes the topic, the checkpoint's state files themselves are
    opened as a DataFrame (key struct, value struct, partition_id) and
    the per-type counts IN STATE must equal the relational oracle —
    state is not a black box, it is a queryable table (debugging skewed
    keys, auditing what survived a watermark, right-sizing state before
    a 100 TB deploy). The stream side is the q181 topology (transport →
    groupBy count, update mode); the assertion here is on the
    CHECKPOINT, not the sink."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q239_bus")
    ck = tempfile.mkdtemp(prefix="q239_ck")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    seed = _t(spark, sf_dir, "events").select("event_id", "event_type")
    KProducer(host=root, topic="ev", transport="topiclog").write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="event_id long, event_type string", transport="topiclog",
        batch_size=4096,
    )
    # select BEFORE groupBy: an expression key would land in the state
    # store under the synthetic `_groupingexpression` field name
    agg = (
        c.stream(spark)
        .select(F.col("value.event_type").alias("event_type"))
        .groupBy("event_type")
        .count()
    )
    name = "q239_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    state = spark.read.format("statestore").load(ck)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n"),
    )


# ----------------------------- multi-topic list subscribe (S5)
@query(
    "q240_multi_topic_list",
    oracle="""
SELECT CASE WHEN event_type IN ('purchase', 'refund') THEN 'money' ELSE 'ops' END
         AS topic,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""",
    tags=("S5", "S1", "T-streaming"),
)
def q240_multi_topic_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma-list multi-topic subscribe (the OTHER half of S5 — q193
    covers the regex-pattern form; the reference's ``asArray
    options.topic`` list form, src/Consumer.coffee:45, was unit-only):
    events are sharded to a 'money' and an 'ops' topic at produce time,
    ONE consumer subscribes to the explicit list, and the rollup keys on
    the ENVELOPE topic column — proving both topics flow through one
    subscription with their origin preserved. The oracle reconstructs
    the sharding rule."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q240_bus")
    ck = tempfile.mkdtemp(prefix="q240_ck")
    log = TopicLog(root)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    for topic, cond in (
        ("money", F.col("event_type").isin("purchase", "refund")),
        ("ops", ~F.col("event_type").isin("purchase", "refund")),
    ):
        log.create_topic(topic, partitions=2)
        KProducer(host=root, topic=topic, transport="topiclog").write_batch(
            ev.where(cond)
        )
    c = KConsumer(
        host=root, topic=["money", "ops"], from_offset="earliest",
        schema="event_id long, event_type string", transport="topiclog",
    )
    dec = c.stream(spark).select("topic", F.col("value.event_type").alias("event_type"))
    name = "q240_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutdown(q, 60)
    return spark.table(name).groupBy("topic", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )


# ----------------------------- union of independent streams (T6/S1)
@query(
    "q241_union_streams",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE event_type IN ('purchase', 'error')
GROUP BY user_id
""",
    tags=("T6", "S1", "E22", "T-streaming"),
)
def q241_union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of two INDEPENDENT streaming sources in one query (the
    engine-level stream merge — distinct from q240's one-subscription
    multi-topic and q187's stream-stream join): purchases and errors
    arrive on separate topics with separate consumers, ``unionByName``
    fuses them into one unbounded frame, and a single stateful count
    aggregates across BOTH sources — the fan-in topology every
    multi-source ingest pipeline needs (each source keeps its own
    offsets in the one checkpoint). Update-mode max-closure (q181)."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q241_bus")
    ck = tempfile.mkdtemp(prefix="q241_ck")
    log = TopicLog(root)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    for et, topic in (("purchase", "purchases"), ("error", "errors")):
        log.create_topic(topic, partitions=2)
        KProducer(host=root, topic=topic, transport="topiclog").write_batch(
            ev.where(F.col("event_type") == et).select("event_id", "user_id")
        )

    def side(topic: str) -> DataFrame:
        c = KConsumer(
            host=root, topic=topic, from_offset="earliest",
            schema="event_id long, user_id long", transport="topiclog",
        )
        return c.stream(spark).select(F.col("value.user_id").alias("user_id"))

    unioned = side("purchases").unionByName(side("errors"))
    agg = unioned.groupBy("user_id").count()
    name = "q241_counts"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    return spark.table(name).groupBy("user_id").agg(
        F.max("count").cast("bigint").alias("n")
    )


# ----------------------------- log-line parsing (R3/E23)
@query(
    "q242_log_parse",
    oracle="""
WITH raw AS (
  SELECT 'ts=' || CAST(epoch_us(ts) AS VARCHAR)
         || ' user=' || CAST(user_id AS VARCHAR)
         || ' type=' || event_type
         || ' cents=' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR)
           AS line
  FROM events),
parsed AS (
  SELECT CAST(regexp_extract(line, 'user=(\\d+)', 1) AS BIGINT) AS user_id,
         regexp_extract(line, 'type=(\\w+)', 1) AS event_type,
         CAST(regexp_extract(line, 'cents=(-?\\d+)', 1) AS BIGINT) AS cents
  FROM raw)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM parsed GROUP BY event_type
""",
    tags=("R3", "E23"),
)
def q242_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured-log parsing — the classic ingest-edge transform (the
    reference's decode stage for the world where the payload is a text
    line, not JSON): events round-trip through a ``k=v``-style log line
    and are re-structured with anchored regex extraction
    (``regexp_extract`` stays inside whole-stage codegen — no Python on
    the parse path; contrast q33's from_json for structured payloads).
    Numeric fields ride as integers end-to-end (epoch-µs, cents) so the
    text round-trip is precision-exact; the oracle performs the
    identical serialize→extract→rollup in SQL."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("ts="), F.unix_micros("ts").cast("string"),
        F.lit(" user="), F.col("user_id").cast("string"),
        F.lit(" type="), F.col("event_type"),
        F.lit(" cents="), F.round(F.col("value") * 100).cast("bigint").cast("string"),
    )
    raw = ev.select(line.alias("line"))
    parsed = raw.select(
        F.regexp_extract("line", r"user=(\d+)", 1).cast("bigint").alias("user_id"),
        F.regexp_extract("line", r"type=(\w+)", 1).alias("event_type"),
        F.regexp_extract("line", r"cents=(-?\d+)", 1).cast("bigint").alias("cents"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# ----------------------------- forward as-of join (E9)
@query(
    "q243_asof_forward",
    oracle="""
WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'purchase'),
e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'error')
SELECT p.user_id, p.event_id,
       CAST(MIN(e.ts_us) - p.ts_us AS BIGINT) AS wait_us
FROM p LEFT JOIN e ON p.user_id = e.user_id AND e.ts_us > p.ts_us
GROUP BY p.user_id, p.event_id, p.ts_us
""",
    tags=("E9", "E21"),
)
def q243_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py direction='forward'): for
    every purchase, the user's NEXT error and the wait until it — the
    time-to-next-event join behind incident attribution and
    next-action analyses, the mirror of q38's backward lookup. Same
    one-shuffle union-carry plan (the ordering is reversed, nothing
    else); strict (> not >=), NULL wait when no later error exists.
    Oracle: correlated MIN over the later events."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    from rdkafka_streams_spark.operators.asof import asof_join

    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us"
    )
    right = ev.where(F.col("event_type") == "error").select("user_id", "ts_us")
    out = asof_join(
        left, right, on="user_id", left_ts="ts_us", right_ts="ts_us",
        payload=[], direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        (F.col("ts_us_asof") - F.col("ts_us")).cast("bigint").alias("wait_us"),
    )


# ----------------------------- salted top-k per hot group (E18/X2)
@query(
    "q244_topk_salted",
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price, rn
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
           AS rn
  FROM lineitem)
WHERE rn <= 10
""",
    tags=("E18", "E19", "X2"),
)
def q244_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED top-k per hot group (operators/topk.py
    top_k_per_group_salted, promoted to the oracle tier): l_returnflag
    has 3 values, so the plain per-group window serializes the whole
    table onto 3 tasks at any cluster size — the constant-cardinality
    window trap (the q22 verdict item, from the other side). Phase 1
    ranks within (group, salt) — 8-way parallel per group — keeping each
    shard's top-10; phase 2 re-ranks the ≤ 8·10 survivors per group.
    Identical result to the single window under the total order
    (price DESC, orderkey, linenumber — unique), which is exactly what
    the oracle's plain window asserts."""
    from rdkafka_streams_spark.operators.topk import top_k_per_group_salted

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = top_k_per_group_salted(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=10,
        n_salts=8,
    )
    return out.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(12,2)").cast("double").alias("price"),
        "rn",
    )


# ----------------------------- partition modularity (X/graph)
@query(
    "q245_brand_modularity",
    oracle="""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
w0 AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
m AS (SELECT COUNT(*) AS m FROM w0),
lbl AS (SELECT p_partkey, p_brand FROM part),
e AS (
  SELECT la.p_brand AS b1, lb.p_brand AS b2
  FROM w0 JOIN lbl la ON w0.p1 = la.p_partkey
          JOIN lbl lb ON w0.p2 = lb.p_partkey),
intra AS (
  SELECT b1 AS brand, COUNT(*) AS e_c FROM e WHERE b1 = b2 GROUP BY b1),
deg AS (
  SELECT brand, CAST(SUM(d) AS BIGINT) AS d_c FROM (
    SELECT b1 AS brand, COUNT(*) AS d FROM e GROUP BY b1
    UNION ALL
    SELECT b2 AS brand, COUNT(*) AS d FROM e GROUP BY b2) u
  GROUP BY brand)
SELECT d.brand,
       CAST(COALESCE(i.e_c, 0) AS BIGINT) AS intra_edges,
       d.d_c AS degree_sum,
       CAST(4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS BIGINT)
         AS contrib_scaled
FROM deg d LEFT JOIN intra i ON d.brand = i.brand CROSS JOIN m
""",
    tags=("X", "graph", "E10"),
)
def q245_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the co-purchase graph under the BRAND
    partition — "do same-brand products co-purchase more than chance?"
    (the community-quality score run before investing in graph-based
    recommendations; Newman 2006). Exact integer arithmetic: each
    brand's contribution is emitted scaled by 4m² — contrib = 4·m·e_c −
    d_c², so Q = Σ contrib / 4m² — keeping the oracle bit-exact with no
    float division anywhere (the repo's micro-unit discipline applied to
    a graph statistic). One pair-gen join + broadcast brand labels +
    two small aggs; no recursion — the partition is given, not
    discovered (q76/q168 discover partitions; this SCORES one)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    w0 = (
        li.alias("x")
        .join(li.alias("y"), F.expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"))
        .groupBy(F.col("x.l_partkey").alias("p1"), F.col("y.l_partkey").alias("p2"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 2)
        .select("p1", "p2")
    )
    lbl = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    e = (
        w0.join(F.broadcast(lbl.withColumnRenamed("p_brand", "b1")), w0.p1 == F.col("p_partkey"))
        .drop("p_partkey")
        .join(F.broadcast(lbl.withColumnRenamed("p_brand", "b2")), w0.p2 == F.col("p_partkey"))
        .select("b1", "b2")
        .localCheckpoint()
    )
    m = e.count()
    intra = e.where(F.col("b1") == F.col("b2")).groupBy(
        F.col("b1").alias("brand")
    ).agg(F.count("*").alias("e_c"))
    deg = (
        e.select(F.col("b1").alias("brand"))
        .unionAll(e.select(F.col("b2").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("d_c"))
    )
    return (
        deg.join(F.broadcast(intra), "brand", "left")
        .select(
            "brand",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("intra_edges"),
            F.col("d_c").alias("degree_sum"),
            (
                4 * F.lit(m) * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("bigint")
            .alias("contrib_scaled"),
        )
    )


# ----------------------------- join-view incremental maintenance (X10)
@query(
    "q246_join_view_delta",
    oracle="""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
    tags=("X10", "E3", "E10"),
)
def q246_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the IVM identity that q134
    applies to aggregates): with A = orders, B = lineitem arriving as
    base + delta batches, the view delta is EXACTLY
    ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — three joins touching only delta-sized
    left/right inputs against the base, never base⋈base again. At
    100 TB this is the nightly-load path: the base⋈base result is
    already materialized; each refresh pays |Δ|-proportional work. The
    maintained view (base view ∪ the three delta terms) must equal the
    full recompute — which is the oracle. Splits are by key parity, so
    both engines reconstruct identical batches."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("qty"), "l_linenumber"
    )
    a0 = o.where(F.col("o_orderkey") % 2 == 0)
    da = o.where(F.col("o_orderkey") % 2 == 1)
    b0 = li.where(F.col("l_linenumber") % 2 == 0)
    db = li.where(F.col("l_linenumber") % 2 == 1)
    cond = F.col("o_orderkey") == F.col("l_orderkey")
    view0 = a0.join(b0, cond)  # the already-materialized base view
    delta = (
        da.join(b0, cond)
        .unionByName(a0.join(db, cond))
        .unionByName(da.join(db, cond))
    )
    view = view0.unionByName(delta)
    return view.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("qty").cast("bigint").alias("qty"),
    )


# ----------------------------- linear multi-touch attribution (E8/E10)
@query(
    "q247_linear_attribution",
    oracle="""
WITH p AS (
  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
t AS (
  SELECT user_id, event_id AS t_id, event_type, epoch_us(ts) AS t_us
  FROM events WHERE event_type IN ('click', 'view')),
j AS (
  SELECT p.p_id, p.cents, t.t_id, t.event_type,
         ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY t.t_us, t.t_id) AS rn,
         COUNT(*) OVER (PARTITION BY p.p_id) AS n_touch
  FROM p JOIN t ON p.user_id = t.user_id
   AND t.t_us >= p.p_us - 604800000000 AND t.t_us < p.p_us),
credits AS (
  SELECT event_type,
         cents // n_touch + CASE WHEN rn = 1 THEN cents % n_touch ELSE 0 END
           AS credit
  FROM j
  UNION ALL
  SELECT 'direct' AS event_type, p.cents AS credit
  FROM p LEFT JOIN j ON p.p_id = j.p_id
  WHERE j.p_id IS NULL)
SELECT event_type AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(credit) AS BIGINT) AS credited_cents
FROM credits GROUP BY event_type
""",
    tags=("E8", "E10", "E21"),
)
def q247_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution (the equal-credit model next to
    q115's last-touch): every purchase's cents split equally across ALL
    of the user's click/view touchpoints in the 7-day lookback — with
    the division kept EXACT in integers: each touch gets cents div n and
    the earliest touch absorbs the remainder (a deterministic rule, so
    credited cents sum to revenue TO THE CENT — the reconciliation
    property finance teams actually require of an attribution model).
    Touchless purchases credit 'direct' in full. The candidate join is
    keyed on user_id with the time band as a residual predicate — a
    keyed shuffle join, never a cross join."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        "event_type",
        F.unix_micros("ts").alias("t_us"),
    )
    lookback = 7 * 24 * 3600 * 1_000_000
    j = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_us") >= F.col("p_us") - lookback)
        & (F.col("t_us") < F.col("p_us")),
    )
    w_rn = Window.partitionBy("p_id").orderBy("t_us", "t_id")
    w_n = Window.partitionBy("p_id")
    touched = (
        j.withColumn("rn", F.row_number().over(w_rn))
        .withColumn("n_touch", F.count("*").over(w_n))
        .select(
            "p_id",
            "event_type",
            (
                F.expr("cents div n_touch")
                + F.when(F.col("rn") == 1, F.col("cents") % F.col("n_touch")).otherwise(0)
            ).alias("credit"),
        )
    )
    direct = (
        p.join(touched.select("p_id").distinct(), "p_id", "left_anti")
        .select(F.lit("direct").alias("event_type"), F.col("cents").alias("credit"))
    )
    return (
        touched.select("event_type", "credit")
        .unionByName(direct)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_credits"),
            F.sum("credit").cast("bigint").alias("credited_cents"),
        )
    )


# ----------------------------- Holt linear smoothing (R7/E34/TS)
@query(
    "q248_holt_linear",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
d AS MATERIALIZED (
  SELECT user_id, v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS mx
  FROM daily),
rec(user_id, rn, l, b) AS (
  SELECT user_id, 1, v, CAST(0 AS BIGINT) FROM d WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.rn + 1,
         (2 * d.v + 8 * (r.l + r.b)) // 10,
         (3 * (((2 * d.v + 8 * (r.l + r.b)) // 10) - r.l) + 7 * r.b) // 10
  FROM rec r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1)
SELECT rec.user_id,
       CAST(rec.l AS BIGINT) AS level_cents,
       CAST(rec.b AS BIGINT) AS trend_cents,
       CAST(rec.rn AS BIGINT) AS n_days
FROM rec JOIN (SELECT user_id, MAX(mx) AS mx FROM d GROUP BY user_id) n
  ON rec.user_id = n.user_id AND rec.rn = n.mx
""",
    tags=("R7", "E34", "TS"),
)
def q248_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per user over
    daily spend — the forecasting recurrence no window function can
    express (state feeds back through BOTH equations), extending q183's
    clamped-balance pattern to 2-dimensional state: one
    ``applyInPandas`` group pass per user, arithmetic kept in EXACT
    integer cents with truncating division (α=0.2, β=0.3 as rational
    2/10, 3/10 — Spark ``div``, DuckDB ``//``, and the pandas fold all
    truncate toward zero, so three engines agree bit-for-bit; Python's
    ``//`` FLOORS and would diverge on negative trends — measured and
    documented). Oracle: the identical recurrence as a recursive CTE
    stepping each user's day index."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    daily = ev.groupBy("user_id", "day").agg(F.sum("cents").alias("v"))

    def trunc_div10(x: int) -> int:
        return x // 10 if x >= 0 else -((-x) // 10)

    def holt(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        vs = [int(v) for v in pdf["v"]]
        l, b = vs[0], 0
        for v in vs[1:]:
            l_new = trunc_div10(2 * v + 8 * (l + b))
            b = trunc_div10(3 * (l_new - l) + 7 * b)
            l = l_new
        return pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "level_cents": l,
                    "trend_cents": b,
                    "n_days": len(vs),
                }
            ]
        )

    return daily.groupBy("user_id").applyInPandas(
        holt, "user_id long, level_cents long, trend_cents long, n_days long"
    )


# ----------------------------- dead-letter repair & replay (R3/T8)
@query(
    "q249_dlq_replay",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
    tags=("R3", "T8", "T-streaming"),
)
def q249_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dead-letter REPLAY loop (q228 routes poison out; this closes
    the loop): every 97th record is produced malformed, the consumer
    splits good/DLQ in one pass, and the dead letters are then REPAIRED
    — their envelope KEY survived intact, so the repair job joins DLQ
    keys back to the source of truth and re-emits the true records —
    and merged with the good stream. The final rollup must equal the
    oracle over ALL events: nothing lost to poisoning, nothing double
    counted (the DLQ keys are distinct and anti-joined by
    construction). This is why the DLQ contract keeps the envelope:
    a dead letter without its key is unrecoverable."""
    import tempfile

    from rdkafka_streams_spark.streaming import TopicLog, shutdown
    from rdkafka_streams_spark.streaming.consumer import decode_with_dlq
    from rdkafka_streams_spark.streaming.topiclog import register

    root = tempfile.mkdtemp(prefix="q249_bus")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    register(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    seed = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.when(
            F.col("event_id") % 97 == 0,
            F.concat(F.lit('{"bad'), F.col("event_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct("event_id", "event_type", "cents")))
        .alias("value"),
        F.pmod("event_id", F.lit(4)).cast("int").alias("partition"),
    )
    seed.write.format("topiclog").option("path", root).option("topic", "ev").mode(
        "append"
    ).save()
    raw = (
        spark.readStream.format("topiclog")
        .option("path", root)
        .option("subscribe", "ev")
        .option("startingOffsets", "earliest")
        .load()
    )
    good, bad = decode_with_dlq(raw, "event_id long, event_type string, cents long")
    for name, df in (("q249_good", good), ("q249_bad", bad)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"{name}_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        shutdown(q, 60)
    recovered = spark.table("q249_good").select(
        F.col("value.event_id").alias("event_id"),
        F.col("value.event_type").alias("event_type"),
        F.col("value.cents").alias("cents"),
    )
    # repair: the DLQ envelope key identifies the record; re-emit from the
    # source of truth
    dlq_keys = spark.table("q249_bad").select(
        F.col("key").cast("string").cast("bigint").alias("event_id")
    )
    repaired = ev.join(F.broadcast(dlq_keys), "event_id")
    return (
        recovered.unionByName(repaired)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


# ----------------------------- cross-format parity certificate (S7/X)
@query(
    "q250_format_parity",
    oracle="""
WITH rows_c AS (
  SELECT md5(CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) || '|'
             || event_type || '|' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR))
           AS h
  FROM events),
per_row AS (
  SELECT list_sum(list_transform(range(1, 11),
           p -> CAST(instr('0123456789abcdef', substring(h, p, 1)) - 1 AS BIGINT)
                * CAST(power(16, 10 - p) AS BIGINT))) AS chk
  FROM rows_c),
v AS (SELECT COUNT(*) AS n, CAST(SUM(chk) AS BIGINT) AS chk FROM per_row)
SELECT fmt, CAST(n AS BIGINT) AS n, CAST(chk AS BIGINT) AS checksum
FROM v CROSS JOIN (VALUES ('orc'), ('csv')) AS f(fmt)
""",
    tags=("S7", "X"),
)
def q250_format_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format parity CERTIFICATE: the same table written to ORC and
    to CSV, read back through each format's own reader, and reduced to
    the q224 order-free content checksum — both rows must carry the
    IDENTICAL checksum, and the oracle computes that checksum from the
    original parquet, so the assertion is three-way (parquet ≡ orc ≡
    csv). This is the executable form of the q213/q231 principle —
    storage format is a layout choice, never a semantics choice — and
    the migration-validation recipe in one query: land the copy, compare
    (n, checksum) per partition, done. Integer-cents columns keep the
    text format exact."""
    import tempfile

    from rdkafka_streams_spark.functions.checksum import content_checksum

    base = tempfile.mkdtemp(prefix="q250_fmt_")
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.write.mode("overwrite").orc(f"{base}/orc")
    ev.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    schema = "event_id long, user_id long, event_type string, cents long"
    backs = {
        "orc": spark.read.schema(schema).orc(f"{base}/orc"),
        "csv": spark.read.schema(schema).option("header", True).csv(f"{base}/csv"),
    }
    chk = content_checksum(["event_id", "user_id", "event_type", "cents"])
    outs = [
        df.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(chk).cast("bigint").alias("checksum"),
        ).select(F.lit(fmt).alias("fmt"), "n", "checksum")
        for fmt, df in backs.items()
    ]
    return outs[0].unionByName(outs[1])


# ----------------------------- change data feed between snapshots (X7)
@query(
    "q251_change_feed",
    oracle="""
WITH s1 AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-15')
  WHERE rn = 1),
s2 AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events)
  WHERE rn = 1)
SELECT s2.user_id,
       CASE WHEN s1.user_id IS NULL THEN 'insert' ELSE 'update' END AS op,
       s1.event_type AS old_state,
       s2.event_type AS new_state
FROM s2 LEFT JOIN s1 ON s2.user_id = s1.user_id
WHERE s1.user_id IS NULL OR s1.event_type <> s2.event_type
""",
    tags=("X7", "E4"),
)
def q251_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between two dimension snapshots — the inverse of
    q97 (changelog → dimension): given the mid-month and end-of-month
    current-state tables, emit exactly the delta a downstream consumer
    must apply — 'insert' for keys new since the first snapshot,
    'update' with (old, new) for keys whose state moved, silence for
    unchanged keys (the property that makes a feed cheaper than a full
    re-copy: |feed| = |changed|, not |table|). One outer join of two
    latest-per-key reductions; this is the snapshot-diff protocol
    table formats call CDF, runnable on plain parquet."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id",
        F.to_date("ts").alias("day"),
    )
    from pyspark.sql import Window

    def snapshot(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_us").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type")
        )

    s1 = snapshot(ev.where(F.col("day") <= F.lit("2024-01-15"))).withColumnRenamed(
        "event_type", "old_state"
    )
    s2 = snapshot(ev).withColumnRenamed("event_type", "new_state")
    return (
        s2.join(s1, "user_id", "left")
        .where(F.col("old_state").isNull() | (F.col("old_state") != F.col("new_state")))
        .select(
            "user_id",
            F.when(F.col("old_state").isNull(), "insert").otherwise("update").alias("op"),
            "old_state",
            "new_state",
        )
    )


# ----------------------------- late-data quarantine policy (T4/R1)
@query(
    "q252_late_quarantine",
    oracle="""
WITH arr AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         md5(CAST(event_id AS VARCHAR)) AS akey
  FROM events),
w AS (
  SELECT event_type, ts_us,
         MAX(ts_us) OVER (PARTITION BY user_id ORDER BY akey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS frontier
  FROM arr)
SELECT event_type,
       CASE WHEN frontier IS NOT NULL AND frontier - ts_us > 7200000000
            THEN 'quarantined' ELSE 'applied' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM w GROUP BY 1, 2
""",
    tags=("T4", "R1", "T-streaming"),
)
def q252_late_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LATE-DATA POLICY, made batch-deterministic (the semantics
    behind T4's watermark drop, finally in the oracle gate): replaying
    the per-user event stream in a deterministic md5 arrival order —
    arrival ≠ event time, exactly the disorder watermarks exist for —
    each event compares against the key's running event-time FRONTIER
    (max event time of everything that arrived before it); more than
    2 h behind the frontier → quarantined, else applied. This is what
    ``withWatermark`` DOES, minus the engine's batch-boundary timing
    (which is why the exact streaming variant stays unit-tier, SURVEY
    §8.4) — the policy itself is pure relational logic over the arrival
    order and both engines agree exactly. Per-user frontier = per-key
    watermark; one window per user key."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.md5(F.col("event_id").cast("string")).alias("akey"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("akey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lateness = 2 * 3600 * 1_000_000
    flagged = ev.withColumn("frontier", F.max("ts_us").over(w)).select(
        "event_type",
        F.when(
            F.col("frontier").isNotNull()
            & (F.col("frontier") - F.col("ts_us") > lateness),
            "quarantined",
        )
        .otherwise("applied")
        .alias("status"),
    )
    return flagged.groupBy("event_type", "status").agg(
        F.count("*").cast("bigint").alias("n")
    )


# ----------------------------- batch-cap offset planning (F1)
@query(
    "q253_batch_cap_planning",
    oracle="""
WITH p AS (
  SELECT CAST(user_id % 4 AS INTEGER) AS pid, COUNT(*) AS n_p
  FROM events GROUP BY 1),
k AS (SELECT UNNEST(range(0, 100)) AS batch_id),
s AS (
  SELECT k.batch_id,
         CAST(SUM(LEAST(1000, GREATEST(p.n_p - k.batch_id * 1000, 0))) AS BIGINT)
           AS n_rows
  FROM k CROSS JOIN p GROUP BY k.batch_id)
SELECT CAST(batch_id AS BIGINT) AS batch_id, n_rows FROM s WHERE n_rows > 0
""",
    tags=("F1", "F2", "T-streaming"),
)
def q253_batch_cap_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pull-batch BOUND as checkable arithmetic (F1 to the oracle
    tier — the reference's ≤16-message pull loop,
    src/Consumer.coffee:57, generalized to maxOffsetsPerTrigger): with
    a deterministic keyed seed and a 1000-offset-per-partition cap,
    micro-batch k MUST contain exactly
    Σ_p min(cap, max(n_p − k·cap, 0)) rows — offset planning is not
    best-effort, it is an arithmetic contract, and that is what makes
    q189's replay determinism and q227's restart exactness possible at
    all. The query records every (batch_id, count) through foreachBatch
    and the oracle computes the same series in closed form. Also the
    backpressure story (F2): the cap is the knob that converts burst
    arrival into bounded, evenly-paced batches."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q253_bus")
    ck = tempfile.mkdtemp(prefix="q253_ck")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("event_id")
        .select("event_id", "user_id", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="event_id long, user_id long", transport="topiclog",
        batch_size=1000,
    )
    sizes: list[tuple[int, int]] = []

    def record(batch, bid: int) -> None:
        n = batch.count()
        if n:
            sizes.append((bid, n))

    q = (
        c.stream(spark)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    return spark.createDataFrame(sorted(sizes), "batch_id long, n_rows long")


# ----------------------------- multi-aggregate pivot (E32/E10)
@query(
    "q254_pivot_multi_agg",
    oracle="""
SELECT user_id,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
         AS purchase_n,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT)
         AS purchase_cents,
       CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
         AS error_n,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
                         THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT)
         AS error_cents
FROM events GROUP BY user_id
""",
    tags=("E32", "E10"),
)
def q254_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (q36 pivots one
    measure; real metric tables want several) — the wide per-entity
    feature table every ML feature store materializes: one row per
    user, (count, cents) per event type, built in ONE pass with
    explicit pivot values (always list them: without the list Spark
    runs an extra distinct scan just to discover the columns — an
    O(table) planning cost at 100 TB). Pivot compiles to conditional
    aggregation, which is exactly how the oracle spells it."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["purchase", "error"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    return wide.select(
        "user_id",
        F.col("purchase_n").cast("bigint").alias("purchase_n"),
        F.coalesce(F.col("purchase_cents"), F.lit(0)).cast("bigint").alias("purchase_cents"),
        F.col("error_n").cast("bigint").alias("error_n"),
        F.coalesce(F.col("error_cents"), F.lit(0)).cast("bigint").alias("error_cents"),
    )


# ----------------------------- streaming upsert view (T8/X7)
@query(
    "q255_upsert_view",
    oracle="""
SELECT user_id, event_type AS last_type, ts_us AS last_ts_us FROM (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
""",
    tags=("T8", "X7", "T-streaming"),
)
def q255_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT into a keyed materialized view — the MERGE-shaped
    sink every CDC consumer builds when the store is plain parquet (no
    Delta/Iceberg in this container): each micro-batch folds into the
    current view as union → latest-per-key → atomic swap (write to a
    new generation dir, then repoint — readers never see a half-written
    view). Arrival is keyed and event-time-ordered (q179 discipline)
    with capped batches, so after the last batch the view holds exactly
    the latest record per user — the oracle's latest-per-key reduction.
    Complements q179 (compaction builds the same state INSIDE the log)
    and q189 (idempotent append): this is idempotent REPLACE, keyed."""
    import os
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q255_bus")
    ck = tempfile.mkdtemp(prefix="q255_ck")
    view_root = tempfile.mkdtemp(prefix="q255_view")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    tp = (F.crc32(F.col("user_id").cast("string").cast("binary")) % n_parts).cast("int")
    seed = (
        ev.withColumn("__tp", tp)
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("user_id", "event_type", "ts_us", "event_id", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_offset="earliest",
        schema="user_id long, event_type string, ts_us long, event_id long",
        transport="topiclog", batch_size=2048,
    )
    dec = c.stream(spark).select("value.user_id", "value.event_type", "value.ts_us", "value.event_id")
    from pyspark.sql import Window

    state = {"gen": -1}

    def upsert(batch, bid: int) -> None:
        cur_dir = os.path.join(view_root, f"gen={state['gen']}")
        new_dir = os.path.join(view_root, f"gen={bid}")
        incoming = batch
        if state["gen"] >= 0:
            incoming = spark.read.parquet(cur_dir).unionByName(batch)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_us").desc(), F.col("event_id").desc()
        )
        latest = (
            incoming.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        latest.write.mode("overwrite").parquet(new_dir)
        state["gen"] = bid

    q = (
        dec.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    view = spark.read.parquet(os.path.join(view_root, f"gen={state['gen']}"))
    return view.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("ts_us").alias("last_ts_us"),
    )


# ----------------------------- activity heatmap (E24/E10)
@query(
    "q256_hour_type_heatmap",
    oracle="""
WITH c AS (
  SELECT EXTRACT(hour FROM ts) AS hour_of_day, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
t AS (SELECT SUM(n) AS total FROM c)
SELECT CAST(hour_of_day AS INTEGER) AS hour_of_day, event_type,
       CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
""",
    tags=("E24", "E10"),
)
def q256_hour_type_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type activity heatmap with exact ppm shares —
    the operational load profile that sizes trigger intervals and
    autoscaling schedules (which hours carry the burst the F1 cap must
    absorb). Two-key partial agg + a 1-row total broadcast; UTC session
    timezone makes EXTRACT(hour) engine-identical."""
    ev = _t(spark, sf_dir, "events").select(
        F.hour("ts").alias("hour_of_day"), "event_type"
    )
    c = ev.groupBy("hour_of_day", "event_type").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "hour_of_day",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("n * 1000000 div total").cast("bigint").alias("share_ppm"),
    )


# ----------------------------- data-contract audit (X9)
@query(
    "q257_data_contract",
    oracle="""
SELECT 'lineitem_orphan_orderkey' AS rule,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 'orders_orphan_custkey',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_null_keys',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IS NULL OR l_partkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_range',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
UNION ALL
SELECT 'events_value_nonneg',
       CAST((SELECT COUNT(*) FROM events WHERE value < 0) AS BIGINT)
UNION ALL
SELECT 'documents_nchars_consistent',
       CAST((SELECT COUNT(*) FROM documents
             WHERE n_chars <> length(text)) AS BIGINT)
""",
    tags=("X9", "E5"),
)
def q257_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit — the dbt-test / great-expectations layer as
    ONE query: referential integrity (orphan foreign keys via anti
    joins — broadcast the key side, never shuffle the fact), null-key,
    range, and derived-column-consistency rules, each reduced to an
    exact violation count. At 100 TB this runs as the gate between
    landing and publishing a partition: all-zeros (or a documented
    allowance) is the publish condition, and any non-zero row localizes
    the broken contract. Six rules, six violation counts, one frame."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    d = _t(spark, sf_dir, "documents")

    def rule(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_violations")).select(
            F.lit(name).alias("rule"), "n_violations"
        )

    checks = [
        rule(
            "lineitem_orphan_orderkey",
            li.join(F.broadcast(o.select("o_orderkey")),
                    li.l_orderkey == F.col("o_orderkey"), "left_anti"),
        ),
        rule(
            "orders_orphan_custkey",
            o.join(F.broadcast(cu.select("c_custkey")),
                   o.o_custkey == F.col("c_custkey"), "left_anti"),
        ),
        rule(
            "lineitem_null_keys",
            li.where(F.col("l_orderkey").isNull() | F.col("l_partkey").isNull()),
        ),
        rule(
            "lineitem_discount_range",
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        rule("events_value_nonneg", ev.where(F.col("value") < 0)),
        rule(
            "documents_nchars_consistent",
            d.where(F.col("n_chars") != F.length("text")),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ----------------------------- point-in-time features (E21/L-prep)
@query(
    "q258_pit_features",
    oracle="""
WITH tl AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
f AS (
  SELECT user_id, event_id, event_type, ts_us,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS n_prior_events,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_prior_purchases,
         SUM(cents) OVER (PARTITION BY user_id ORDER BY ts_us
                          RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
           - cents AS cents_7d_excl,
         ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS us_since_last
  FROM tl)
SELECT user_id, event_id,
       CAST(n_prior_events AS BIGINT) AS n_prior_events,
       CAST(n_prior_purchases AS BIGINT) AS n_prior_purchases,
       CAST(cents_7d_excl AS BIGINT) AS cents_7d_excl,
       CAST(us_since_last AS BIGINT) AS us_since_last
FROM f WHERE event_type = 'purchase'
""",
    tags=("E21", "L-prep", "E9"),
)
def q258_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature engineering — the leakage-free contract every
    training pipeline must honor (features computed from STRICTLY before
    the label event; q196 does this for dimensions, this does it for
    behavioral aggregates): for each purchase, the user's prior event
    count, prior purchase count, trailing-7-day spend EXCLUDING the
    current row (RANGE frame minus self — the standard
    exclude-current-row idiom since RANGE frames are inclusive), and
    recency. ALL features ride ONE (user, time) window sort — four
    frames, one shuffle; a per-feature self-join formulation would pay
    the shuffle four times. Ties totalized by event_id everywhere a
    ROWS frame depends on order; the RANGE frame keys on ts alone (peer
    rows aggregate identically, order-free)."""
    from pyspark.sql import Window

    tl = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    rows_prior = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    range_7d = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    order_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    f = tl.select(
        "user_id",
        "event_id",
        "event_type",
        F.count("*").over(rows_prior).cast("bigint").alias("n_prior_events"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                rows_prior
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_prior_purchases"),
        (F.sum("cents").over(range_7d) - F.col("cents"))
        .cast("bigint")
        .alias("cents_7d_excl"),
        (F.col("ts_us") - F.lag("ts_us").over(order_w))
        .cast("bigint")
        .alias("us_since_last"),
    )
    return f.where(F.col("event_type") == "purchase").drop("event_type")


# ----------------------------- growth accounting (E24/E21)
@query(
    "q259_growth_accounting",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS INTEGER) AS wk
  FROM events),
f AS (SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY user_id),
lagd AS (
  SELECT uw.user_id, uw.wk, f.first_wk,
         LAG(uw.wk) OVER (PARTITION BY uw.user_id ORDER BY uw.wk) AS prev_wk
  FROM uw JOIN f ON uw.user_id = f.user_id),
status AS (
  SELECT wk,
         CASE WHEN wk = first_wk THEN 'new'
              WHEN prev_wk = wk - 1 THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM lagd),
churn AS (
  SELECT wk + 1 AS wk, 'churned' AS status
  FROM lagd l
  WHERE NOT EXISTS (SELECT 1 FROM uw n
                    WHERE n.user_id = l.user_id AND n.wk = l.wk + 1)
    AND wk + 1 <= (SELECT MAX(wk) FROM uw)),
allrows AS (SELECT wk, status FROM status UNION ALL SELECT wk, status FROM churn)
SELECT CAST(wk AS INTEGER) AS wk, status, CAST(COUNT(*) AS BIGINT) AS n_users
FROM allrows GROUP BY wk, status
""",
    tags=("E24", "E21", "E10"),
)
def q259_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING — the new/retained/resurrected/churned weekly
    decomposition (the Social-Capital framework every growth team
    reports): a user's week is 'new' on their first week, 'retained'
    when the previous week was active, 'resurrected' after a gap;
    'churned' counts into the FOLLOWING week for users who go silent
    (bounded by the observation horizon, so the last week never accrues
    phantom churn). The identity new+retained+resurrected = WAU and
    WAU_t − WAU_{t−1} = new + resurrected − churned falls out by
    construction. One distinct (user, week) reduction, one lag window
    on the user key, one anti-join for churn."""
    from pyspark.sql import Window

    uw = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7)
            .cast("int")
            .alias("wk"),
        )
        .distinct()
    )
    f = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    w = Window.partitionBy("user_id").orderBy("wk")
    lagd = uw.join(f, "user_id").withColumn("prev_wk", F.lag("wk").over(w))
    status = lagd.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    max_wk = uw.agg(F.max("wk").alias("mx"))
    # anti-join against the user's ACTUAL active weeks: churned into wk+1
    # means wk+1 itself is absent (a shifted copy here would compare
    # wk+1 = active_wk+1 <=> active in wk — vacuously true; caught by the
    # sf0.01 oracle, invisible at sf0.001 where nobody churns)
    nxt = uw.select(F.col("user_id").alias("uid_n"), F.col("wk").alias("wk_n"))
    churn = (
        lagd.select("user_id", (F.col("wk") + 1).alias("wk"))
        .join(nxt,
              (F.col("user_id") == F.col("uid_n")) & (F.col("wk") == F.col("wk_n")),
              "left_anti")
        .crossJoin(F.broadcast(max_wk))
        .where(F.col("wk") <= F.col("mx"))
        .select("wk", F.lit("churned").alias("status"))
    )
    return (
        status.unionByName(churn)
        .groupBy("wk", "status")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


# ----------------------------- audience overlap matrix (E10/L2)
@query(
    "q260_audience_overlap",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sz AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT p.type_a, p.type_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(p.n_both * 1000000 // (sa.n + sb.n - p.n_both) AS BIGINT)
         AS jaccard_ppm
FROM pairs p
JOIN sz sa ON p.type_a = sa.event_type
JOIN sz sb ON p.type_b = sb.event_type
""",
    tags=("E10", "L2"),
)
def q260_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix — exact Jaccard of USER SETS between every
    pair of event types (the audience-similarity question behind
    cross-sell targeting and dedup of marketing segments; the same
    set-similarity machinery as L2's document Jaccard, applied to
    behavioral cohorts): distinct (user, type) reduction, self-join on
    the user key bounded by types-per-user (≤5 here — never quadratic
    in users), sizes broadcast back, overlap in exact integer ppm. The
    type_a < type_b canonical order halves the matrix."""
    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    sz = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("uid_b"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, (a.user_id == F.col("uid_b")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(sz.withColumnRenamed("event_type", "type_a").withColumnRenamed("n", "na")),
            "type_a",
        )
        .join(
            F.broadcast(sz.withColumnRenamed("event_type", "type_b").withColumnRenamed("n", "nb")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr("n_both * 1000000 div (na + nb - n_both)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


# ----------------------------- experiment power analysis (E11)
@query(
    "q261_power_analysis",
    oracle="""
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                  * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND((s2 - s1 * 1.0 * s1 / n) / (n - 1) / 10000.0, 6) AS var_dollars,
       CAST(CEIL(2 * 7.849 * ((s2 - s1 * 1.0 * s1 / n) / (n - 1) / 10000.0)
                 / (5.0 * 5.0)) AS BIGINT) AS n_per_arm
FROM m
""",
    tags=("E11", "E10"),
)
def q261_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER ANALYSIS from observed variance — the question
    asked before q143's t-test is ever run: to detect a $5 shift in
    mean order value at α=0.05 / power=0.80, how many users per arm?
    n = 2(z_α/2+z_β)²·σ²/δ² with (1.96+0.8416)² = 7.849 inlined as the
    same literal in both engines (the q199 float-parity discipline).
    Variance comes from exact integer cent moments (Σx, Σx² as BIGINT —
    order-free), converted to dollars² only at the final expression;
    CEIL of identical double math agrees bit-for-bit. The planning op
    that decides whether an experiment is even worth launching."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    var_d = (
        (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
        / 10000.0
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(var_d, 6).alias("var_dollars"),
        F.ceil(2 * 7.849 * var_d / (5.0 * 5.0)).cast("bigint").alias("n_per_arm"),
    )


# ----------------------------- deterministic bootstrap (E11/E33)
_BOOT_B = 32


@query(
    "q262_bootstrap_ci",
    oracle=f"""
WITH p AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
         ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS rid
  FROM events WHERE event_type = 'purchase'),
n AS (SELECT COUNT(*) AS n FROM p),
draws AS (
  SELECT CAST(u // n.n AS INTEGER) AS b,
         list_sum(list_transform(range(1, 13),
           k -> CAST(instr('0123456789abcdef',
                     substring(md5(CAST(u AS VARCHAR)), k, 1)) - 1 AS BIGINT)
                * CAST(power(16, 12 - k) AS BIGINT))) % n.n AS rid
  FROM (SELECT UNNEST(range(0, {_BOOT_B} * (SELECT n FROM n))) AS u) CROSS JOIN n),
sums AS (
  SELECT d.b, CAST(SUM(p.c) AS BIGINT) AS s
  FROM draws d JOIN p ON d.rid = p.rid GROUP BY d.b),
o AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS r FROM sums)
SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
       CAST((SELECT MIN(s) FROM sums) AS BIGINT) AS boot_min_sum,
       CAST((SELECT s FROM o WHERE r = {_BOOT_B // 2}) AS BIGINT) AS boot_med_sum,
       CAST((SELECT MAX(s) FROM sums) AS BIGINT) AS boot_max_sum
""",
    tags=("E11", "E33"),
)
def q262_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC bootstrap — resampling without a random number
    generator: the b-th resample's j-th draw picks row
    md5(b·n + j) mod n (the md5-uniform discipline the sampling
    operators already use, q37/q122), so every engine regenerates the
    IDENTICAL 32 resamples and the bootstrap distribution is
    oracle-checkable — reproducible uncertainty quantification, the
    property regulated model validation actually demands. Resample
    statistics stay integer (SUMS of cents, order stats over the 32),
    never touching float math. Scale shape: the draw table is B·n rows
    (generated, never collected), joined to the global_rank-indexed
    data on the draw index — linear in B·n, one shuffle."""
    from rdkafka_streams_spark.operators.ranking import global_rank

    p = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.round(F.col("value") * 100).cast("bigint").alias("c"), "event_id"
        )
    )
    indexed = global_rank(p, ["event_id"], rank_col="rn").select(
        "c", (F.col("rn") - 1).alias("rid")
    )
    n = indexed.count()
    draws = spark.range(_BOOT_B * n).select(
        # integer division, matching the oracle's u // n exactly — double
        # division is only bit-exact while B·n stays inside 2^53
        F.expr(f"id div {n}").cast("int").alias("b"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 12), 16, 10)
         .cast("bigint") % n).alias("rid"),
    )
    sums = (
        draws.join(indexed, "rid")
        .groupBy("b")
        .agg(F.sum("c").cast("bigint").alias("s"))
    )
    # order stats over the B=32 resample sums via one sorted-array agg —
    # no window at all (keeps the repo's zero-partition-less-window
    # invariant; the frame is 32 rows, the sort is a literal-size array)
    return sums.agg(
        F.sort_array(F.collect_list("s")).alias("arr")
    ).select(
        F.lit(n).cast("bigint").alias("n"),
        F.element_at("arr", 1).cast("bigint").alias("boot_min_sum"),
        F.element_at("arr", _BOOT_B // 2).cast("bigint").alias("boot_med_sum"),
        F.element_at("arr", _BOOT_B).cast("bigint").alias("boot_max_sum"),
    )


# ----------------------------- per-group OLS slope (E11/E10)
@query(
    "q263_brand_elasticity",
    oracle="""
WITH x AS (
  SELECT p.p_brand,
         CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS px,
         CAST(l.l_quantity AS BIGINT) AS qy
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
m AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(px) AS DOUBLE) AS sx, CAST(SUM(qy) AS DOUBLE) AS sy,
         CAST(SUM(px * qy) AS DOUBLE) AS sxy,
         CAST(SUM(px * px) AS DOUBLE) AS sxx
  FROM x GROUP BY p_brand)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000, 6)
         AS slope_qty_per_cent_x1e6
FROM m WHERE n * sxx - sx * sx <> 0
""",
    tags=("E11", "E10"),
)
def q263_brand_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP least-squares slope — quantity-vs-price within each brand
    (q121 fits one global trend; pricing teams want the per-segment
    sensitivity): the OLS slope from four integer moments
    (Σx, Σy, Σxy, Σx² as exact BIGINT over cents — order-free), one
    grouped aggregation, no per-group iteration. The closed form
    (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) is evaluated once per brand from
    identical int64 inputs in both engines (q199 parity discipline),
    scaled ×1e6 and rounded to 6. Degenerate (zero-variance) groups are
    filtered by the same predicate on both sides."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_quantity")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "p_brand",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("px"),
        F.col("l_quantity").cast("bigint").alias("qy"),
    )
    # per-row products fit int64 (px <= ~1e7 -> px^2 ~ 1e14) but their
    # SUMS and n*Sxx do not at scale: accumulate in DECIMAL(38,0) (exact,
    # like DuckDB's HUGEINT) and convert the exact integers to double only
    # inside the closed form — both engines round-to-nearest from the same
    # integers, so the doubles agree bit-for-bit
    m = x.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(F.col("px").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("px") * F.col("qy")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("px") * F.col("px")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.where(denom != 0).select(
        "p_brand",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom * 1000000,
            6,
        ).alias("slope_qty_per_cent_x1e6"),
    )


# ----------------------------- GROUP BY ALL syntax (E-SQL)
@query(
    "q264_group_by_all",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem
GROUP BY ALL
ORDER BY ALL
""",
    tags=("E-SQL", "E10", "E17"),
)
def q264_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (the analyst shorthand both
    engines adopted from DuckDB's dialect — every non-aggregate output
    column becomes a grouping key, every output column an order key):
    the SAME text runs as the Spark query and the oracle, which is the
    point — dialect-level convergence means one query serves
    interactive DuckDB exploration and the production cluster
    unchanged. Compiles to the identical hash-aggregate plan as the
    explicit-columns spelling."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q264_lineitem")
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM q264_lineitem
GROUP BY ALL
ORDER BY ALL
"""
    )


# ----------------------------- column-level encryption (X/R7)
@query(
    "q265_column_crypto",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    tags=("X", "R7", "E26"),
)
def q265_column_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption at rest (the PII pattern compliance
    requires when the lake's storage perimeter is not trusted): the
    user identifier is AES-GCM-encrypted BEFORE the table lands in
    parquet — each ciphertext carries a random IV, so equal plaintexts
    land as different bytes (no frequency analysis on the stored
    column, which is exactly why the GCM default beats deterministic
    ECB for PII) — and analytics on the protected copy decrypt
    in-flight with the key, never rewriting the table. The decrypted
    rollup must equal the plaintext oracle: crypto is a storage
    transform, invisible to query semantics. Key management is the
    deployment's concern (KMS); a literal key here stands in."""
    import tempfile

    out = tempfile.mkdtemp(prefix="q265_enc_")
    key = "0123456789abcdef"  # 16-byte AES-128 stand-in for a KMS secret
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr(
            f"aes_encrypt(cast(user_id as string), '{key}')"
        ).alias("user_id_enc"),
    )
    ev.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    dec = back.select(
        "event_type",
        F.expr(f"cast(aes_decrypt(user_id_enc, '{key}') as string)")
        .cast("bigint")
        .alias("user_id"),
    )
    return dec.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# ----------------------------- k-anonymity profile (X9/L-prep)
@query(
    "q266_k_anonymity",
    oracle="""
WITH qi AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_rows
  FROM events GROUP BY 1, 2, 3),
cls AS (
  SELECT event_type, day, COUNT(*) AS class_size, CAST(SUM(n_rows) AS BIGINT) AS rows_in
  FROM qi GROUP BY event_type, day),
banded AS (
  SELECT CASE WHEN class_size < 5 THEN 'k_lt_5'
              WHEN class_size < 20 THEN 'k_5_19'
              ELSE 'k_ge_20' END AS k_band,
         class_size, rows_in
  FROM cls)
SELECT k_band,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(rows_in) AS BIGINT) AS n_rows
FROM banded GROUP BY k_band
""",
    tags=("X9", "L-prep"),
)
def q266_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY profile over quasi-identifiers — the re-identification
    risk audit run before a dataset release (Sweeney 2002; the privacy
    counterpart of q257's contract gate): with (event_type, day) as the
    quasi-identifier, each equivalence class counts its DISTINCT users
    (class_size = how many people hide in this combination), and the
    release decision reads off the banded profile — rows sitting in
    classes below k=5 are the re-identifiable mass that must be
    generalized or suppressed. Two grouped aggregations; the per-class
    user reduction is the only user-cardinality shuffle."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("day")
    )
    qi = ev.groupBy("user_id", "event_type", "day").agg(
        F.count("*").alias("n_rows")
    )
    cls = qi.groupBy("event_type", "day").agg(
        F.count("*").alias("class_size"),
        F.sum("n_rows").cast("bigint").alias("rows_in"),
    )
    banded = cls.select(
        F.when(F.col("class_size") < 5, "k_lt_5")
        .when(F.col("class_size") < 20, "k_5_19")
        .otherwise("k_ge_20")
        .alias("k_band"),
        "rows_in",
    )
    return banded.groupBy("k_band").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("rows_in").cast("bigint").alias("n_rows"),
    )


# ----------------------------- hybrid hot/cold skew join (X2)
@query(
    "q267_hybrid_skew_join",
    oracle="""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    tags=("X2", "E3", "E10"),
)
def q267_hybrid_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID hot/cold skew join (operators/skew.py hybrid_skew_join —
    the production recipe q70's uniform salting approximates): the
    key-skew profile (q158's operator) nominates the hottest join keys,
    ONLY their rows take the salted path (replicating the build side
    n_salts ways for just those keys), the cold majority joins plainly,
    and the union must equal the ordinary join — which is the oracle.
    Salting everything replicates the whole build side; salting nothing
    leaves single-task stragglers; the hybrid pays replication
    proportional to the skew, which is the only posture that survives
    both a uniform AND a power-law keyspace at 100 TB."""
    from rdkafka_streams_spark.operators.skew import hybrid_skew_join, key_skew_profile

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    prof = key_skew_profile(li, "l_orderkey", top_k=64)
    hot = prof.where(F.col("skew_factor") >= 2.0).select(
        F.col("l_orderkey")
    )
    joined = hybrid_skew_join(
        li,
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        hot_keys=hot,
        n_salts=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
    )


# ----------------------------- dedup-cluster size profile (X6/L1)
@query(
    "q268_cluster_size_profile",
    oracle="""
WITH RECURSIVE d AS (
  SELECT doc_id, text, lang || '|' || CAST(n_chars // 100 AS VARCHAR) AS blk
  FROM documents),
tok AS (
  SELECT DISTINCT doc_id, blk, tok FROM (
    SELECT doc_id, blk, unnest(string_split(text, ' ')) AS tok FROM d)),
sizes AS (SELECT doc_id, blk, COUNT(*) AS sz FROM tok GROUP BY 1, 2),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
  FROM tok a JOIN tok b ON a.blk = b.blk AND a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id1, id2 FROM (
    SELECT co.id1, co.id2, co.c / (sa.sz + sb.sz - co.c) AS jaccard
    FROM common co
    JOIN sizes sa ON co.id1 = sa.doc_id
    JOIN sizes sb ON co.id2 = sb.doc_id)
  WHERE jaccard >= 0.8),
edges2 AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges2
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges2 e ON r.b = e.a),
comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
cs AS (SELECT cluster_id, COUNT(*) AS csize FROM comp GROUP BY cluster_id)
SELECT CAST(FLOOR(LN(csize) / LN(2)) AS INTEGER) AS log2_size_band,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(csize) AS BIGINT) AS n_docs,
       CAST(SUM(csize - 1) AS BIGINT) AS n_removable
FROM cs GROUP BY 1
""",
    tags=("X6", "L1", "L2"),
)
def q268_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster SIZE distribution (the report read before executing a
    dedup: how much mass sits in big near-dup families, and what
    fraction of the corpus is removable = Σ(size−1)): q76's connected
    components reduced to log₂ size bands. A heavy tail here (one giant
    family) is the boilerplate/mirror signature that says fix the
    source, don't just dedup; a flat profile says the LSH threshold is
    doing its job. Integer band arithmetic; the removable count is the
    exact payoff number a dedup run reports against."""
    from rdkafka_streams_spark.llm.dedup import jaccard_pairs
    from rdkafka_streams_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").withColumn(
        "blk", F.concat_ws("|", F.col("lang"), F.expr("n_chars div 100").cast("string"))
    )
    pairs = jaccard_pairs(d, threshold=0.8, block_col="blk").select("id1", "id2")
    comp = connected_components(pairs, "id1", "id2", dedupe_edges=False)
    cs = comp.groupBy("component").agg(F.count("*").alias("csize"))
    return (
        cs.select(
            F.floor(F.log(F.col("csize")) / F.log(F.lit(2.0)))
            .cast("int")
            .alias("log2_size_band"),
            "csize",
        )
        .groupBy("log2_size_band")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("csize").cast("bigint").alias("n_docs"),
            F.sum(F.col("csize") - 1).cast("bigint").alias("n_removable"),
        )
    )


# ----------------------------- revenue bridge (E10/E24)
@query(
    "q269_revenue_bridge",
    oracle="""
WITH h AS (
  SELECT event_type,
         CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 2 END AS half,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM events GROUP BY 1, 2),
w AS (
  SELECT a.event_type,
         a.n AS n1, b.n AS n2,
         a.rev AS rev1, b.rev AS rev2
  FROM h a JOIN h b ON a.event_type = b.event_type AND a.half = 1 AND b.half = 2)
SELECT event_type,
       CAST(rev2 - rev1 AS BIGINT) AS delta_cents,
       ROUND((n2 - n1) * (rev1 * 1.0 / n1), 6) AS volume_effect_cents,
       ROUND(n2 * (rev2 * 1.0 / n2 - rev1 * 1.0 / n1), 6) AS rate_effect_cents
FROM w
""",
    tags=("E10", "E24"),
)
def q269_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period REVENUE BRIDGE — the finance decomposition of a
    revenue delta into volume effect ((Δn)·avg₁) and rate effect
    (n₂·Δavg), which sum exactly to the total change (the identity the
    bridge chart is built on): first half of January vs second, per
    event type. The delta itself is exact integer cents; the two effects
    divide by counts, so they are evaluated from the identical
    int64-derived doubles in both engines and rounded to 6 (the q199
    literal-parity discipline). One two-key aggregation + a self-join of
    a 10-row frame."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.to_date("ts") <= F.lit("2024-01-15"), 1).otherwise(2).alias("half"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    h = ev.groupBy("event_type", "half").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("rev")
    )
    a = h.where(F.col("half") == 1).select(
        "event_type", F.col("n").alias("n1"), F.col("rev").alias("rev1")
    )
    b = h.where(F.col("half") == 2).select(
        F.col("event_type").alias("et2"), F.col("n").alias("n2"), F.col("rev").alias("rev2")
    )
    w = a.join(b, a.event_type == F.col("et2"))
    return w.select(
        "event_type",
        (F.col("rev2") - F.col("rev1")).cast("bigint").alias("delta_cents"),
        F.round(
            (F.col("n2") - F.col("n1")) * (F.col("rev1") * 1.0 / F.col("n1")), 6
        ).alias("volume_effect_cents"),
        F.round(
            F.col("n2")
            * (F.col("rev2") * 1.0 / F.col("n2") - F.col("rev1") * 1.0 / F.col("n1")),
            6,
        ).alias("rate_effect_cents"),
    )


# ----------------------------- Avro wire-format roundtrip (S1/S2/R3/R4)
@query(
    "q270_avro_roundtrip",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us
FROM events GROUP BY event_type
""",
    tags=("S1", "S2", "R3", "R4", "codec"),
)
def q270_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVRO wire-format round trip through the transport (the q90 loop with
    binary schema'd values instead of JSON): every event is encoded as an
    Avro binary record — streaming/avro_codec.py, the spec-pinned pure-
    Python codec standing in for the absent spark-avro datasource
    (ENVPROBE_r07) — produced to a fresh topiclog topic, batch-consumed,
    decoded through KConsumer's avro path (schema-first, nullable-union
    fields, timestamp-micros logical type), and aggregated. The oracle is
    the same rollup straight off the table: a lossless
    encode→wire→decode loop must be invisible to the aggregate. At 100 TB
    the codec is a map-side Arrow-batched pandas UDF — no shuffle is added
    over the JSON path; the one aggregate shuffle carries 3 columns."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.avro_codec import spark_to_avro_schema
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q270_bus")
    TopicLog(root).create_topic("ev_avro", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        "ts",
    )
    schema = spark_to_avro_schema(ev.schema, name="event")
    KProducer(
        host=root, topic="ev_avro", key="event_id", transport="topiclog",
        value_format="avro", avro_schema=schema,
    ).write_batch(ev)
    raw = read_topic(spark, root, "ev_avro")
    dec = KConsumer(
        host=root, topic="ev_avro", schema=schema, value_format="avro",
        transport="topiclog",
    ).decode(raw)
    return dec.groupBy(F.col("value.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value.cents").cast("bigint").alias("cents"),
        F.min(F.unix_micros("value.ts")).cast("bigint").alias("first_us"),
    )


@query(
    "q271_avro_nested",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
       MIN(toks[1]) AS first_tok
FROM t GROUP BY lang
""",
    tags=("S1", "S2", "R3", "R4", "codec"),
)
def q271_avro_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro NESTED-type wire roundtrip: each document travels as a record
    {doc_id, meta: {lang, source}, toks: array<string>} — nested record +
    array under nullable unions, the shape a real Kafka estate's Avro
    subjects actually have (flat q270 covers scalars + timestamps). Encode
    → topiclog → decode → per-lang rollup reading THROUGH the nested
    struct; the oracle computes the same rollup straight off the table, so
    any corruption in union indices, block-encoded arrays, or nested field
    order breaks the hash match. Same scale shape as q270: codec is
    map-side, one rollup exchange."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.avro_codec import spark_to_avro_schema
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q271_bus")
    TopicLog(root).create_topic("docs_avro", partitions=4)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct("lang", "source").alias("meta"),
        F.split("text", " ").alias("toks"),
    )
    schema = spark_to_avro_schema(d.schema, name="doc")
    KProducer(
        host=root, topic="docs_avro", key="doc_id", transport="topiclog",
        value_format="avro", avro_schema=schema,
    ).write_batch(d)
    dec = KConsumer(
        host=root, topic="docs_avro", schema=schema, value_format="avro",
        transport="topiclog",
    ).decode(read_topic(spark, root, "docs_avro"))
    return dec.groupBy(F.col("value.meta.lang").alias("lang")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size("value.toks")).cast("bigint").alias("n_tokens"),
        F.min(F.col("value.toks")[0]).alias("first_tok"),
    )


# ----------------------------- consumer-group lag monitoring (S4/F7)
@query(
    "q272_consumer_lag",
    oracle="""
WITH p AS (
  SELECT CAST(event_id % 4 AS INTEGER) AS partition,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1)
SELECT partition,
       n AS end_offset,
       CASE WHEN partition < 3 THEN CAST((3 * n) // 5 AS BIGINT) END AS committed,
       n - COALESCE(CASE WHEN partition < 3 THEN CAST((3 * n) // 5 AS BIGINT) END,
                    0) AS lag
FROM p
""",
    tags=("S4", "F7", "T-streaming"),
)
def q272_consumer_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-GROUP LAG monitoring — librdkafka's statistics callback
    reports per-partition ``consumer_lag`` and the committed/position
    offsets behind it (the reference's Consumer rides those semantics via
    auto-commit; its delivery heartbeat src/Producer.coffee:54-60 is the
    producer-side twin). TopicLog now carries the __consumer_offsets
    analog (commit_offsets/committed, atomic JSON per group under
    <root>/.groups): events are produced partitioned by event_id%4, a
    group commits exactly 3n/5 of partitions 0-2 and never touches p3,
    and consumer_lag() reports end_offset/committed/lag per partition —
    the uncommitted partition shows committed NULL and lags by its whole
    log, the earliest-reset posture. The oracle reconstructs all three
    relationally from the table. Lag state is metadata-sized (one row per
    partition, regardless of data volume), so the driver-side build is
    the honest 100 TB shape — the log scan behind end_offsets reads
    segment NAMES, not records."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog

    root = tempfile.mkdtemp(prefix="q272_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.pmod("event_id", F.lit(n_parts)).cast("int").alias("__tp"),
    )
    KProducer(
        host=root, topic="ev", key="event_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(ev)
    ends = log.end_offsets("ev")
    log.commit_offsets(
        "graft-group", "ev",
        {pid: (3 * end) // 5 for pid, end in ends.items() if pid < 3},
    )
    lag = log.consumer_lag("graft-group", "ev")
    return spark.createDataFrame(
        [
            (pid, v["end_offset"], v["committed"], v["lag"])
            for pid, v in sorted(lag.items())
        ],
        "partition int, end_offset bigint, committed bigint, lag bigint",
    )


# ----------------------------- seek by timestamp (S4: offsetsForTimes)
@query(
    "q273_seek_by_timestamp",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(user_id % 4 AS INTEGER) AS p
  FROM events),
r AS (
  SELECT p, event_id, ts_us,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY ts_us, event_id) - 1 AS off
  FROM e)
SELECT p AS partition,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(off) AS BIGINT) AS first_offset,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM r WHERE ts_us >= 1705708800000000
GROUP BY p
""",
    tags=("S4", "S1", "T-streaming"),
)
def q273_seek_by_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEEK-BY-TIMESTAMP (``Consumer.offsetsForTimes`` → the Kafka source's
    ``startingTimestamp``): events are produced with their EVENT TIME as the
    record's CreateTime (the sink's ``timestamp`` column, new alongside
    key/partition), partition-ordered by (ts, event_id) so CreateTime is
    monotonic per partition; the consumer then starts from epoch-ms
    2024-01-20T00:00:00Z via ``from_timestamp`` — resolved driver-side
    through TopicLog.offsets_for_times exactly like the real source's
    offsetsForTimes lookup. Under monotonic CreateTime, seek ≡ filter, so
    the oracle reconstructs the consumed set relationally and MIN(offset)
    per partition must equal the count of records before the cutoff — the
    value-level proof that the seek landed on the EARLIEST qualifying
    offset rather than merely filtering. ms-vs-µs is exact: the cutoff is
    whole-second, so floor-to-ms record stamps qualify iff the µs event
    time does. The time→offset resolution reads O(records before the
    cutoff) driver-side at build, the same metadata walk a broker's time
    index does."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = tempfile.mkdtemp(prefix="q273_bus")
    ck = tempfile.mkdtemp(prefix="q273_ck")
    n_parts = 4
    TopicLog(root).create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("ts_us")
    )
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "user_id", "ts", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        timestamp_col="ts", transport="topiclog",
    ).write_batch(seed)
    c = KConsumer(
        host=root, topic="ev", from_timestamp=1705708800000,  # 2024-01-20Z
        schema="event_id long, user_id long", transport="topiclog",
    )
    dec = c.stream(spark).select(
        "partition", "offset", F.col("value.event_id").alias("event_id")
    )
    name = "q273_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutdown(q, 60)
    return spark.table(name).groupBy("partition").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("offset").cast("bigint").alias("first_offset"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    )


# ----------------------------- record headers over the wire (S1/S2)
@query(
    "q274_headers_routing",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events GROUP BY event_type
""",
    tags=("S1", "S2", "F7"),
)
def q274_headers_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD HEADERS over the wire (the Kafka sink/source's optional
    ``headers array<struct<key,value>>`` column, librdkafka's
    ``RdKafka::Headers``): every event travels with its routing metadata in
    HEADERS — ``et`` = event_type, ``src`` = constant provenance — while
    the serialized value carries only event_id. The consumer reads with
    includeHeaders and aggregates BY THE HEADER value (filter the header
    list for ``et``, cast its bytes to string), so any corruption of
    header order, duplication, or bytes breaks the rollup against the
    table-side oracle. Headers take the row-parse path by design (no
    zero-copy JSONL parse for list<struct> with per-record null semantics;
    Kafka's own includeHeaders default is false for the same
    reason) — the fast path stays untouched for header-free topics. One
    rollup exchange; header extraction is a map-side higher-order
    function, JVM-side."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q274_bus")
    TopicLog(root).create_topic("ev", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.array(
            F.struct(F.lit("et").alias("key"),
                     F.col("event_type").cast("binary").alias("value")),
            F.struct(F.lit("src").alias("key"),
                     F.lit("events").cast("binary").alias("value")),
        ).alias("hdr"),
    )
    KProducer(
        host=root, topic="ev", key="event_id", headers_col="hdr",
        transport="topiclog",
    ).write_batch(ev)
    raw = read_topic(spark, root, "ev", include_headers=True)
    dec = KConsumer(
        host=root, topic="ev", schema="event_id long", transport="topiclog",
    ).decode(raw)
    et = F.filter("headers", lambda h: h["key"] == F.lit("et"))[0]["value"]
    return (
        dec.select(
            F.col("value.event_id").alias("event_id"),
            et.cast("string").alias("event_type"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
    )


# ----------------------------- bounded batch window read (S7/S4)
@query(
    "q275_batch_time_window",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events
WHERE epoch_us(ts) >= 1704844800000000 AND epoch_us(ts) < 1705708800000000
GROUP BY event_type
""",
    tags=("S7", "S4", "T-streaming"),
)
def q275_batch_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED BATCH WINDOW off a topic — the Kafka batch source's
    ``startingTimestamp``/``endingTimestamp`` options (new on the topiclog
    batch reader beside startingOffsets/endingOffsets JSON with -2/-1
    sentinels), i.e. the daily-ETL shape every Kafka estate runs: "read
    yesterday's window as a batch, no streaming checkpoint". Events are
    produced with event time as CreateTime, partition-ordered so CreateTime
    is monotonic per partition; the batch read takes
    [2024-01-10Z, 2024-01-20Z) — both bounds resolved through
    offsetsForTimes driver-side, per partition — and the rollup must match
    the table filtered by the same window (seek ≡ filter under monotonic
    CreateTime; whole-second bounds make ms-vs-µs exact, q273 argument).
    At 100 TB the bound resolution reads O(records before each bound) as a
    driver metadata walk; the scan itself reads ONLY the window's offset
    ranges — partition pruning in time, not a full scan + filter."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q275_bus")
    n_parts = 4
    TopicLog(root).create_topic("ev", partitions=n_parts)
    seed = (
        _t(spark, sf_dir, "events")
        .select(
            "event_id", "event_type", "ts", "user_id",
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
            F.unix_micros("ts").alias("ts_us"),
        )
        .withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "event_type", "cents", "ts", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="event_id", partition_col="__tp",
        timestamp_col="ts", transport="topiclog",
    ).write_batch(seed)
    raw = read_topic(
        spark, root, "ev",
        startingTimestamp="1704844800000",  # 2024-01-10Z
        endingTimestamp="1705708800000",    # 2024-01-20Z (exclusive)
    )
    dec = KConsumer(
        host=root, topic="ev", schema="event_id long, event_type string, cents long",
        transport="topiclog",
    ).decode(raw)
    return dec.groupBy(F.col("value.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value.cents").cast("bigint").alias("cents"),
    )


# ----------------------------- Avro decimal logical type on the wire (R4)
@query(
    "q276_avro_decimal_money",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
       CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
    tags=("R4", "S2", "codec", "E30"),
)
def q276_avro_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro DECIMAL logical type end-to-end (spec §Logical Types; r7
    verdict item 3): a DECIMAL(12,2) money column rides the wire as
    bytes+decimal — the big-endian two's-complement UNSCALED integer, the
    framing every Avro-speaking estate uses for money — not as a double.
    spark_to_avro_schema auto-derives the logical type from the Spark
    DecimalType; decode returns DECIMAL(12,2), so the post-wire aggregate
    is EXACT decimal math and must hash-match the oracle computed straight
    off the table (a double round-trip would drift cents and fail).
    Scale: codec is map-side Arrow-batched; one 5-group rollup exchange."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.avro_codec import spark_to_avro_schema
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q276_bus")
    TopicLog(root).create_topic("money_avro", partitions=4)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    schema = spark_to_avro_schema(li.schema, name="line")
    KProducer(
        host=root, topic="money_avro", key="okey", transport="topiclog",
        value_format="avro", avro_schema=schema,
    ).write_batch(li)
    dec = KConsumer(
        host=root, topic="money_avro", schema=schema, value_format="avro",
        transport="topiclog",
    ).decode(read_topic(spark, root, "money_avro"))
    return dec.groupBy(F.col("value.l_returnflag").alias("l_returnflag")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value.price").cast("double").alias("sum_price"),
        F.min("value.price").cast("double").alias("min_price"),
        F.max("value.price").cast("double").alias("max_price"),
    )


# --------------------- Confluent wire format + schema evolution (S1/S2/R3/R4)
@query(
    "q277_schema_evolution",
    oracle="""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN cents ELSE 5 END) AS BIGINT)
         AS cents_with_defaults
FROM ev GROUP BY event_type
""",
    tags=("S1", "S2", "R3", "R4", "codec", "registry"),
)
def q277_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent wire format + schema-registry evolution on the wire (r7
    verdict item 2): even-id events are produced under subject version v1
    (no ``cents`` field), odd-id events under v2 (``cents`` long, default
    5) — each record framed as magic 0x00 + u32 schema id + Avro body and
    the schemas registered (BACKWARD-gated) in the file-backed registry
    beside the log. ONE consumer with the subject's latest reader schema
    decodes BOTH generations: v1 records surface cents=5 from the v2
    default (Avro spec §Schema Resolution), v2 records carry their real
    value. The oracle reconstructs exactly that default-vs-value split, so
    a framing error, id mix-up, or resolution bug breaks the hash.
    Scale: framing is 5 bytes/record map-side; each executor resolves each
    writer id once; one rollup exchange."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    v1 = _json.dumps({
        "type": "record", "name": "ev", "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "event_type", "type": "string"},
        ],
    })
    v2 = _json.dumps({
        "type": "record", "name": "ev", "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "cents", "type": "long", "default": 5},
        ],
    })
    root = tempfile.mkdtemp(prefix="q277_bus")
    TopicLog(root).create_topic("ev", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    KProducer(
        host=root, topic="ev", transport="topiclog",
        value_format="avro-confluent", avro_schema=v1,
    ).write_batch(ev.where(F.col("event_id") % 2 == 0)
                  .select("event_id", "event_type"))
    KProducer(
        host=root, topic="ev", transport="topiclog",
        value_format="avro-confluent", avro_schema=v2,
    ).write_batch(ev.where(F.col("event_id") % 2 == 1))
    dec = KConsumer(
        host=root, topic="ev", transport="topiclog",
        value_format="avro-confluent",  # reader = subject latest (v2)
    ).decode(read_topic(spark, root, "ev"))
    return dec.groupBy(F.col("value.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value.cents").cast("bigint").alias("cents_with_defaults"),
    )


# --------------- consumer-group admin reset + zombie fencing (S4/F6)
@query(
    "q278_group_reset_reread",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(user_id % 4 AS INTEGER) AS p
  FROM events),
r AS (
  SELECT p, event_id, ts_us,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY ts_us, event_id) - 1 AS off
  FROM e)
SELECT p AS partition,
       CAST(MIN(off) AS BIGINT) AS resumed_from,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM r WHERE ts_us >= 1705708800000000
GROUP BY p
""",
    tags=("S4", "F6", "T-streaming"),
)
def q278_group_reset_reread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-group ADMIN RESET with zombie fencing (r7 verdict item 7 —
    the ``kafka-consumer-groups.sh --reset-offsets --to-datetime --execute``
    flow): events ride the log with event-time CreateTime (per-partition
    monotonic, as q273 establishes); a generation-carrying group consumes
    to the end and commits; the admin resets the group to the cutoff
    timestamp (``reset_offsets`` resolves it through ``offsets_for_times``
    and BUMPS THE GENERATION); the old member's in-flight commit-to-end is
    then FENCED (ILLEGAL_GENERATION) instead of clobbering the reset; a
    new-generation consumer resumes from the group's committed offsets and
    re-reads EXACTLY the delta. The oracle reconstructs the re-read window
    relationally — if the fence failed (stale commit applied), every
    partition would re-read nothing and the hash breaks; if the reset
    resolved the wrong offsets, resumed_from breaks. Scale: reset and
    fencing are metadata ops (one file per (group,topic), one per group);
    the re-read scans only the delta's offset ranges — segment listing
    prunes everything below the boundary."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import (
        IllegalGenerationError,
        KProducer,
        TopicLog,
        read_topic,
    )

    root = tempfile.mkdtemp(prefix="q278_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("ts_us")
    )
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "user_id", "ts", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        timestamp_col="ts", transport="topiclog",
    ).write_batch(seed)

    gen = log.join_group("etl")
    ends = log.end_offsets("ev")
    log.commit_offsets("etl", "ev", ends, generation=gen)  # fully caught up
    log.reset_offsets("etl", "ev", to=1705708800000)  # 2024-01-20Z; fences
    try:  # the straggler's commit-to-end MUST bounce off the fence
        log.commit_offsets("etl", "ev", ends, generation=gen)
        raise AssertionError("zombie commit was not fenced")
    except IllegalGenerationError:
        pass
    resume = log.committed("etl", "ev")
    delta = read_topic(
        spark, root, "ev",
        startingOffsets=_json.dumps(
            {"ev": {str(p): o for p, o in resume.items()}}
        ),
    )
    dec = delta.select(
        "partition", "offset",
        F.from_json(F.col("value").cast("string"),
                    "event_id long, user_id long").alias("v"),
    )
    return dec.groupBy("partition").agg(
        F.min("offset").cast("bigint").alias("resumed_from"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
    )


# --------------- producer transactions + isolation.level (S2/S1/T8)
@query(
    "q279_txn_isolation",
    oracle="""
WITH e AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(user_id % 4 AS INTEGER) AS g
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(SUM(CASE WHEN g <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_committed,
       CAST(SUM(CASE WHEN g <= 1 THEN cents ELSE 0 END) AS BIGINT)
         AS cents_committed
FROM e GROUP BY event_type
""",
    tags=("S2", "S1", "T8", "T-streaming"),
)
def q279_txn_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Producer TRANSACTIONS + consumer ``isolation.level`` over the
    transport (librdkafka's transactional API — the exactly-once surface
    the reference's at-least-once ``cb()`` producer sits below): events
    are produced in four generations — plain (user_id%4=0), inside a
    COMMITTED transaction (=1), inside an ABORTED transaction (=2), and
    inside a transaction left OPEN (=3). All records ride the log and
    consume offsets; commit/abort CONTROL markers land per touched
    partition (offset parity with a broker, invisible to applications at
    every isolation level). One read_uncommitted scan sees every data
    record; one read_committed scan sees plain + committed only —
    aborted and pending records are filtered by the executor-side
    columnar ``is_in`` pass against the driver-resolved unresolved-txn
    set. The oracle reconstructs both views per event_type; a marker
    leak, a wrong filter, or a visibility flip breaks the hash.
    Scale: txn resolution is metadata (one file per txn id, read once per
    scan plan, shipped with the partitions); the filter is a columnar
    mask that costs nothing on txn-free segments. A transaction belongs
    to ONE producer session in Kafka too — the per-session append here is
    the honest shape; the Spark Kafka sink itself has no transactional
    produce."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = tempfile.mkdtemp(prefix="q279_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        F.pmod("user_id", F.lit(4)).cast("int").alias("g"),
        F.pmod("event_id", F.lit(n_parts)).cast("int").alias("p"),
    )
    groups: dict[tuple[int, int], list[str]] = {}
    for r in ev.collect():  # bounded: the txn demo corpus; one producer
        # session per txn is Kafka's own transactional-producer shape
        groups.setdefault((r.g, r.p), []).append(_json.dumps(
            {"event_id": r.event_id, "event_type": r.event_type,
             "cents": r.cents}, separators=(",", ":")))
    txn_of = {1: "good", 2: "bad", 3: "pending"}
    for t in txn_of.values():
        log.begin_txn(t)
    for (g, p), vals in sorted(groups.items()):
        log.append("ev", vals, partition=p, txn=txn_of.get(g))
    log.commit_txn("good")
    log.abort_txn("bad")  # "pending" stays open

    def decoded(iso: str) -> DataFrame:
        return read_topic(spark, root, "ev", isolation=iso).select(
            F.from_json(
                F.col("value").cast("string"),
                "event_id long, event_type string, cents long",
            ).alias("v")
        )

    allv = decoded("read_uncommitted").groupBy(
        F.col("v.event_type").alias("event_type")
    ).agg(F.count("*").cast("bigint").alias("n_all"))
    comm = decoded("read_committed").groupBy(
        F.col("v.event_type").alias("event_type")
    ).agg(
        F.count("*").cast("bigint").alias("n_committed"),
        F.sum("v.cents").cast("bigint").alias("cents_committed"),
    )
    return allv.join(comm, "event_type").select(
        "event_type", "n_all", "n_committed", "cents_committed"
    )


# --------------- atomic micro-batch produce -> read_committed (S2/T8/F6)
@query(
    "q280_atomic_sink_eos",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
    tags=("S2", "T8", "F6", "T-streaming"),
)
def q280_atomic_sink_eos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once PRODUCE path (the EOS half of q279's isolation story):
    events stream through the topiclog sink with ``atomic=True`` — every
    micro-batch publishes as ONE producer transaction (tasks tag records
    with the batch-scoped txn id, segment links are WAL'd in the txn state
    file, per-partition commit markers land, one atomic state-file rename
    flips the whole batch visible). A read_committed consumer then rolls
    the topic up: the oracle equality certifies nothing was lost, nothing
    doubled, and no control marker leaked into the data — across FOUR
    separate micro-batches whose markers sit interleaved in the log.
    Scale: the per-batch overhead is one state file + one marker per
    touched partition; the visibility flip is O(1) regardless of batch
    size, so trigger cadence, not volume, prices the transaction."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = tempfile.mkdtemp(prefix="q280_bus")
    src = tempfile.mkdtemp(prefix="q280_src")
    ck = tempfile.mkdtemp(prefix="q280_ck")
    TopicLog(root).create_topic("ev", partitions=4)
    _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).repartition(8).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream
        .schema("event_id long, event_type string, cents long")
        .option("maxFilesPerTrigger", 2)  # 4 atomic micro-batches
        .parquet(src)
    )
    q = KProducer(
        host=root, topic="ev", key="event_id", transport="topiclog",
        atomic=True, checkpoint=ck,
    ).write(stream, trigger="0.1 seconds")
    q.processAllAvailable()
    q.stop()
    dec = read_topic(spark, root, "ev", isolation="read_committed").select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, event_type string, cents long",
        ).alias("v")
    )
    return dec.groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.cents").cast("bigint").alias("cents"),
    )


# --------------- config-driven retention reaper (S4/F6: retention.ms)
@query(
    "q281_retention_policy",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(user_id % 4 AS INTEGER) AS p
  FROM events),
r AS (
  SELECT p, event_id, ts_us,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY ts_us, event_id) - 1 AS off
  FROM e)
SELECT p AS partition,
       CAST(MIN(off) AS BIGINT) AS log_start,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM r WHERE ts_us >= 1705708800000000
GROUP BY p
""",
    tags=("S4", "F6", "T-streaming"),
)
def q281_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFIG-DRIVEN retention (the broker's ``retention.ms`` + cleaner
    thread, run as a one-shot with a pinned clock): events ride the log
    with event-time CreateTime (per-partition monotonic, the q273/q278
    produce shape); ``alter_configs`` sets ``retention.ms`` so that the
    cleaner's cutoff (now − R) lands exactly on the 2024-01-20Z boundary;
    ``run_retention(now_ms=...)`` reaps everything older. A from-earliest
    read then sees ONLY the retained window, and ``beginning_offsets``
    (logStartOffset) has advanced to the boundary — surfaced per partition
    as ``log_start`` = MIN(offset), which the oracle reconstructs
    relationally. A reaper that read the wrong config, applied the wrong
    cutoff, or forgot to advance the log start breaks the hash. Scale:
    the reap is segment unlink + one spanning-segment trim per partition
    (metadata-bounded, no scan of surviving data); a real deployment runs
    the same sweep from cron against shared storage."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    now_ms = 1_710_000_000_000
    cutoff_ms = 1_705_708_800_000  # 2024-01-20Z, the q273 boundary
    root = tempfile.mkdtemp(prefix="q281_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("ts_us")
    )
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "user_id", "ts", "__tp")
    )
    KProducer(
        host=root, topic="ev", key="user_id", partition_col="__tp",
        timestamp_col="ts", transport="topiclog",
    ).write_batch(seed)
    log.alter_configs("ev", {"retention.ms": now_ms - cutoff_ms,
                             "cleanup.policy": "delete"})
    log.run_retention("ev", now_ms=now_ms)
    dec = read_topic(spark, root, "ev").select(
        "partition", "offset",
        F.from_json(F.col("value").cast("string"),
                    "event_id long, user_id long").alias("v"),
    )
    return dec.groupBy("partition").agg(
        F.min("offset").cast("bigint").alias("log_start"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
    )


# --------------- framed Avro KEYS on a compacted CDC topic (R4/S2/X7)
@query(
    "q282_avro_key_compacted",
    oracle="""
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100) AS BIGINT)
         AS latest_cents
FROM customer GROUP BY c_nationkey
""",
    tags=("R4", "S2", "X7", "codec", "registry"),
)
def q282_avro_key_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed Avro KEYS on a compacted CDC topic (KProducer/KConsumer
    ``key_format='avro-confluent'``, subject ``<topic>-key`` beside
    ``<topic>-value`` — the two-subject shape every Debezium/Connect
    estate ships): each customer is produced TWICE — an initial snapshot,
    then a balance update (+100 cents) — key = one-field Avro record
    {c_custkey} under the key subject, value = full row under the value
    subject. ``compact()`` then keeps only the LATEST record per key:
    this works on framed keys because Avro binary encoding is
    deterministic (same key → same bytes → same compaction bucket; the
    registry's idempotent id allocation keeps the 5-byte frame identical
    across produces). The consumer decodes BOTH sides through the
    registry and rolls up by nation — every surviving value must be the
    update, so a key-frame instability (dup keys surviving) or a stale
    value breaks both n and the sum. Scale: two subjects, two ids,
    resolved once per executor; compaction is the broker-side cost it
    always is."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q282_bus")
    log = TopicLog(root)
    log.create_topic("cust", partitions=4)
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").alias("cents"),
    )
    prod = KProducer(
        host=root, topic="cust", key="c_custkey", transport="topiclog",
        value_format="avro-confluent", key_format="avro-confluent",
    )
    prod.write_batch(base)                                   # snapshot
    prod.write_batch(base.withColumn("cents", F.col("cents") + 100))  # update
    log.compact("cust")
    dec = KConsumer(
        host=root, topic="cust", transport="topiclog",
        value_format="avro-confluent", key_format="avro-confluent",
    ).decode(read_topic(spark, root, "cust"))
    return dec.groupBy(F.col("value.c_nationkey").alias("c_nationkey")).agg(
        F.count("key.c_custkey").cast("bigint").alias("n_customers"),
        F.sum("value.cents").cast("bigint").alias("latest_cents"),
    )


# --------------- end-to-end EOS pipeline: committed in -> atomic out
@query(
    "q283_eos_pipeline",
    oracle="""
WITH e AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id % 2 = 0)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents * 2) AS BIGINT) AS doubled_cents
FROM e GROUP BY event_type
""",
    tags=("S3", "S1", "S2", "T8", "T-streaming"),
)
def q283_eos_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END exactly-once pipeline — the reference's duplex loop
    (README.md:41-56: consume → transform → produce) upgraded to the
    Kafka Streams `processing.guarantee=exactly_once_v2` shape: topic A
    carries committed records interleaved with an ABORTED transaction's;
    a streaming consumer at ``isolation=read_committed`` sees only the
    committed half, a per-record transform doubles the cents (the
    reference's `_.extend {source:"transform"}` analog), and the sink
    republishes to topic B with ``atomic=true`` — each micro-batch one
    sealed transaction. A read_committed scan of B must then equal the
    relational transform of A's committed records: an isolation leak on
    the inbound hop, a non-atomic outbound publish, or a marker leaking
    into either hop breaks the hash. Scale: both hops are the certified
    flat-latency paths (SCALE.md transport table); the transform is pure
    map-side columnar."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic, shutdown
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = tempfile.mkdtemp(prefix="q283_bus")
    ck = tempfile.mkdtemp(prefix="q283_ck")
    log = TopicLog(root)
    log.create_topic("a", partitions=4)
    log.create_topic("b", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    rows: dict[tuple[int, int], list[str]] = {}
    for r in ev.collect():  # txn produce is a single producer session
        rows.setdefault((r.user_id % 2, r.event_id % 4), []).append(_json.dumps(
            {"event_id": r.event_id, "event_type": r.event_type,
             "cents": r.cents}, separators=(",", ":")))
    log.begin_txn("poison")
    for (g, p), vals in sorted(rows.items()):
        log.append("a", vals, partition=p, txn="poison" if g else None)
    log.abort_txn("poison")  # the odd-user half must never reach B

    inbound = KConsumer(
        host=root, topic="a", from_offset="earliest", transport="topiclog",
        isolation="read_committed",
        schema="event_id long, event_type string, cents long",
    ).stream(spark)
    transformed = inbound.select(
        F.col("value.event_id").alias("event_id"),
        F.col("value.event_type").alias("event_type"),
        (F.col("value.cents") * 2).alias("doubled_cents"),
    )
    q = KProducer(
        host=root, topic="b", key="event_id", transport="topiclog",
        atomic=True, checkpoint=ck,
    ).write(transformed, trigger="0.1 seconds")
    q.processAllAvailable()
    shutdown(q, 60)

    out = read_topic(spark, root, "b", isolation="read_committed").select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, event_type string, doubled_cents long",
        ).alias("v")
    )
    return out.groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.doubled_cents").cast("bigint").alias("doubled_cents"),
    )


# --------------- group rebalance + per-member assigned consumption (S4/S5)
@query(
    "q285_rebalance_assign",
    oracle="""
WITH e AS (
  SELECT event_id, CAST(user_id % 8 AS INTEGER) AS p FROM events)
SELECT CASE WHEN p <= 2 THEN 'c1'
            WHEN p <= 5 THEN 'c2'
            ELSE 'c3' END AS member,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT p) AS BIGINT) AS n_parts,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM e
GROUP BY 1
""",
    tags=("S4", "S5", "T-streaming"),
)
def q285_rebalance_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group REBALANCE driving per-member consumption — librdkafka's
    ``partition.assignment.strategy`` made durable (reference passes the
    config straight through, src/Consumer.coffee:9-20): events land on an
    8-partition topic keyed by user; ``rebalance_group`` (JoinGroup +
    RangeAssignor + SyncGroup in one step, `streaming/assignors.py`)
    splits the partitions over three members; each member then consumes
    EXACTLY its assigned partitions via manual ``assign`` (the SyncGroup
    response a real client acts on). The oracle reconstructs the range
    math relationally (8 over {c1,c2,c3} = 3+3+2 contiguous) — an
    overlapping, leaky, or non-contiguous assignment breaks n_rows /
    n_parts / the hash. Scale: assignment is driver metadata
    (O(members+partitions)); each member's scan plans only its own
    partitions — the union is still one pass over the log total,
    partition-pruned per member exactly as a real group divides work."""
    import json as _json
    import tempfile
    from functools import reduce

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = tempfile.mkdtemp(prefix="q285_bus")
    n_parts = 8
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.pmod("user_id", F.lit(n_parts)).cast("int").alias("__tp"),
    )
    KProducer(
        host=root, topic="ev", key="event_id", partition_col="__tp",
        transport="topiclog",
    ).write_batch(ev)

    sync = log.rebalance_group(
        "workers", "ev", ["c1", "c2", "c3"], strategy="range"
    )
    frames = []
    for member in sorted(sync["assignment"]):
        pids = [p for _, p in sync["assignment"][member]]
        part = read_topic(
            spark, root, "ev", assign=_json.dumps({"ev": pids})
        ).select(
            F.lit(member).alias("member"),
            "partition",
            F.from_json(
                F.col("value").cast("string"), "event_id long"
            ).alias("v"),
        )
        frames.append(part)
    return reduce(DataFrame.unionByName, frames).groupBy("member").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        # size(collect_set) not countDistinct: same value, single-phase
        # agg (a distinct agg would add a second exchange for no reason)
        F.size(F.collect_set("partition")).cast("bigint").alias("n_parts"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
    )


# --------------- MirrorMaker-2 replication + failover translation (S1/S2/S4)
@query(
    "q286_mirror_failover",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(user_id % 4 AS INTEGER) AS p
  FROM events),
r AS (
  SELECT p, event_id, ts_us,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY ts_us, event_id) - 1 AS dst_off
  FROM e WHERE ts_us >= 1705276800000000)
SELECT p AS partition,
       CAST(MIN(dst_off) AS BIGINT) AS resumed_from,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM r WHERE ts_us >= 1705708800000000
GROUP BY p
""",
    tags=("S1", "S2", "S4", "T-streaming"),
)
def q286_mirror_failover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cluster FAILOVER — the MirrorMaker 2 flow (KIP-382) the
    reference's single-cluster client eventually needs for DR: events
    ride a 4-partition source topic with event-time CreateTime; the
    source head is retention-trimmed at Jan-15 (so source offsets no
    longer start at 0); a consumer group commits at the Jan-20 boundary;
    `mirror_topic` replicates byte-faithfully into `primary.ev` on a
    SECOND cluster (target offsets restart at 0 — the exact reason
    failover needs translation), emitting sparse offset-syncs;
    `checkpoint_group` translates the group's source offsets through the
    sync store and commits them on the target. The failed-over consumer
    resumes from its group on the NEW cluster and re-reads exactly the
    Jan-20+ delta. The oracle rebuilds the target offset space
    relationally (row_number over the post-trim records) — a translation
    off by one record breaks resumed_from, a lossy mirror breaks
    n_rows/sum. Scale: replication is one pass + one shuffle (the
    order-preserving repartition+sort); the sync store is BOUNDED at
    O(partitions × ~100) snapshot entries (exponential grid + gap
    anchors, real MM2's OffsetSyncStore posture), so translation and
    checkpointing stay metadata-sized at any record volume."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.mirror import (
        checkpoint_group,
        mirror_topic,
    )

    src_root = tempfile.mkdtemp(prefix="q286_src")
    dst_root = tempfile.mkdtemp(prefix="q286_dst")
    n_parts = 4
    t0, t1 = 1705276800000, 1705708800000  # 2024-01-15Z, 2024-01-20Z
    log = TopicLog(src_root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("ts_us")
    )
    seed = (
        ev.withColumn("__tp", F.pmod("user_id", F.lit(n_parts)).cast("int"))
        .repartition(n_parts, "__tp")
        .sortWithinPartitions("ts_us", "event_id")
        .select("event_id", "user_id", "ts", "__tp")
    )
    KProducer(
        host=src_root, topic="ev", key="user_id", partition_col="__tp",
        timestamp_col="ts", transport="topiclog",
    ).write_batch(seed)

    ends = log.end_offsets("ev")
    trim = log.offsets_for_times("ev", t0)
    log.delete_records(
        "ev", {p: (o if o is not None else ends[p]) for p, o in trim.items()}
    )
    gen = log.join_group("app")
    commit_at = log.offsets_for_times("ev", t1)
    log.commit_offsets(
        "app", "ev",
        {p: (o if o is not None else ends[p]) for p, o in commit_at.items()},
        generation=gen,
    )

    mirror_topic(spark, src_root, dst_root, "ev", sync_interval=64)
    checkpoint_group(spark, src_root, dst_root, "app", "ev")

    resume = TopicLog(dst_root).committed("app", "primary.ev")
    delta = read_topic(
        spark, dst_root, "primary.ev",
        startingOffsets=_json.dumps(
            {"primary.ev": {str(p): o for p, o in resume.items()}}
        ),
    )
    dec = delta.select(
        "partition", "offset",
        F.from_json(F.col("value").cast("string"),
                    "event_id long, user_id long").alias("v"),
    )
    return dec.groupBy("partition").agg(
        F.min("offset").cast("bigint").alias("resumed_from"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
    )


# --------------- idempotent producer: retry storm, zero duplicates (S2/F3)
@query(
    "q289_idempotent_produce",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
    tags=("S2", "F3", "T8", "T-streaming"),
)
def q289_idempotent_produce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``enable.idempotence=true`` under a worst-case retry storm — the
    exactly-once-per-partition upgrade of the reference's at-least-once
    queue-full retry loop (src/Producer.coffee produce/poll: a timed-out
    ack is simply resent, duplicating on the broker). Here every events
    row rides a per-partition sequenced batch and EVERY batch is sent
    twice (the client retry); mid-stream the producer re-inits
    (init_producer_id epoch bump), after which a zombie holding the old
    epoch attempts a write and is FENCED, and the new epoch restarts its
    sequence chains at 0. The read-back aggregate equals the plain
    one-copy oracle over events — any duplicate ack'd as fresh, any
    fenced write leaking through, or any batch lost to the sequence
    bookkeeping breaks n / cents.
    Scale: sequence state is one metadata file per (pid, partition) —
    size tracks producer count, not data volume; the dedupe check is an
    O(1) file read per batch, exactly a broker's per-pid in-memory map.
    The verify read is one pass + one event_type rollup exchange."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import TopicLog, read_topic
    from rdkafka_streams_spark.streaming.topiclog import ProducerFencedError

    root = tempfile.mkdtemp(prefix="q289_bus")
    n_parts = 4
    log = TopicLog(root)
    log.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        F.pmod("event_id", F.lit(n_parts)).cast("int").alias("p"),
    )
    by_p: dict[int, list[str]] = {}
    for r in ev.collect():  # bounded: producing is a client-side act, the
        # same driver-session shape as q279's transactional producer
        by_p.setdefault(r.p, []).append(_json.dumps(
            {"event_id": r.event_id, "event_type": r.event_type,
             "cents": r.cents}, separators=(",", ":")))
    batches = [
        (p, vals[i:i + 500])
        for p, vals in sorted(by_p.items())
        for i in range(0, len(vals), 500)
    ]
    pid, epoch = log.init_producer_id("etl")
    seqs = dict.fromkeys(range(n_parts), 0)
    half = len(batches) // 2
    for i, (p, vals) in enumerate(batches):
        if i == half:  # producer restart mid-stream: epoch bump + fence
            pid, epoch = log.init_producer_id("etl")
            try:
                log.produce_idempotent("ev", ["zombie"], 0, pid, epoch - 1, 0)
                raise AssertionError("stale epoch must be fenced")
            except ProducerFencedError:
                pass
            seqs = dict.fromkeys(range(n_parts), 0)  # chains restart
        log.produce_idempotent("ev", vals, p, pid, epoch, seqs[p])
        log.produce_idempotent("ev", vals, p, pid, epoch, seqs[p])  # retry
        seqs[p] += len(vals)
    return read_topic(spark, root, "ev").select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, event_type string, cents long",
        ).alias("v")
    ).groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.cents").cast("bigint").alias("cents"),
    )


# --------------- static membership: bounce without rebalance (S4/S5)
@query(
    "q290_static_member_resume",
    oracle="""
WITH e AS (
  SELECT event_id, CAST(user_id % 6 AS INTEGER) AS p
  FROM events WHERE event_id % 2 = 1)
SELECT p AS partition,
       CAST(COUNT(*) AS BIGINT) AS n_delta,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM e WHERE p IN (2, 3) GROUP BY p
""",
    tags=("S4", "S5", "T-streaming"),
)
def q290_static_member_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC MEMBERSHIP (KIP-345, ``group.instance.id``) driving a
    rolling restart: three static members range-share a 6-partition
    topic; wave 1 (even event_ids) lands and pod-b commits its positions
    under the group generation; wave 2 (odd event_ids) lands while pod-b
    bounces. The rejoin hands pod-b its OLD partitions back with NO
    rebalance (generation unchanged, other members undisturbed — the
    whole point of static membership; the reference's consumer would sit
    through a full revoke/reassign cycle here), its pre-bounce
    incarnation is fenced, and the resumed member reads exactly the
    wave-2 delta on exactly partitions {2,3}. The oracle reconstructs
    the contiguous range math and the odd-wave rows; a spurious
    rebalance, a lost assignment, or a commit fence failure breaks the
    driver asserts or the hash. Scale: joins/heartbeats are metadata
    file ops; the resumed read is a partition-pruned scan from committed
    offsets + one rollup exchange."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.topiclog import FencedInstanceIdError

    root = tempfile.mkdtemp(prefix="q290_bus")
    log = TopicLog(root)
    log.create_topic("ev", partitions=6)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.pmod("user_id", F.lit(6)).cast("int").alias("__tp"),
    )
    prod = KProducer(
        host=root, topic="ev", key="event_id", partition_col="__tp",
        transport="topiclog",
    )
    prod.write_batch(ev.filter(F.col("event_id") % 2 == 0))  # wave 1

    joins = {pod: log.static_join("g", "ev", pod)
             for pod in ("pod-a", "pod-b", "pod-c")}
    gen = joins["pod-c"]["generation"]
    b_parts = sorted(p for _, p in map(tuple, log.describe_group("g")
                                       ["assignment"]["pod-b"]))
    assert b_parts == [2, 3], f"range math drifted: {b_parts}"
    ends = log.end_offsets("ev")
    log.commit_offsets("g", "ev", {p: ends[p] for p in b_parts},
                       generation=gen)
    # pod-b's OWN pre-bounce token (not whichever pod joined last): the
    # fence assertion below must check the incarnation that bounced
    stale_token = joins["pod-b"]["member_token"]

    prod.write_batch(ev.filter(F.col("event_id") % 2 == 1))  # wave 2
    j2 = log.static_join("g", "ev", "pod-b")  # the bounce
    assert j2["rebalanced"] is False and j2["generation"] == gen
    assert sorted(p for _, p in map(tuple, j2["assignment"])) == b_parts
    try:
        log.heartbeat("g", "pod-b", stale_token)
        raise AssertionError("pre-bounce incarnation must be fenced")
    except FencedInstanceIdError:
        pass

    resume = log.committed("g", "ev")
    return read_topic(
        spark, root, "ev", assign=_json.dumps({"ev": b_parts}),
        startingOffsets=_json.dumps(
            {"ev": {str(p): resume[p] for p in b_parts}}
        ),
    ).select(
        "partition",
        F.from_json(F.col("value").cast("string"),
                    "event_id long").alias("v"),
    ).groupBy("partition").agg(
        F.count("*").cast("bigint").alias("n_delta"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
    )


# --------------- compressed wire: gzip'd segments, lossless (S2/S1)
@query(
    "q291_compressed_transport",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
    tags=("S1", "S2", "T-streaming"),
)
def q291_compressed_transport(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``compression.type=gzip`` end-to-end: the full events table rides
    the transport as gzip'd segments (the broker-side shape of a Kafka
    producer batch with a codec set — compression is the single biggest
    wire/storage lever a 100 TB estate has) and the read-back aggregate
    must equal the plain one-copy oracle, proving the codec is lossless
    through produce → segment → columnar decompressing scan → decode.
    The produce is the DISTRIBUTED sink path (executors stage, driver
    publishes gzip'd), not a driver loop; the verify read is one pass +
    one event_type rollup exchange. Offsets stay in segment NAMES, so
    planning never decompresses — only the record scan pays the codec."""
    import os as _os
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = tempfile.mkdtemp(prefix="q291_bus")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        F.col("event_id").cast("string").alias("key"),
    )
    KProducer(
        host=root, topic="ev", transport="topiclog", key="key",
        options={"compression.type": "gzip"},
    ).write_batch(ev)
    # the codec must actually have been exercised — every published
    # segment of every partition is gzip'd
    for p in range(4):
        pdir = _os.path.join(root, "ev", f"p{p}")
        segs = [n for n in _os.listdir(pdir) if n.startswith("seg-")]
        if segs and not all(n.endswith(".jsonl.gz") for n in segs):
            raise RuntimeError(f"uncompressed segment leaked into {pdir}")
    return read_topic(spark, root, "ev").select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, event_type string, cents long",
        ).alias("v")
    ).groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.cents").cast("bigint").alias("cents"),
    )


# --------------- tiered storage: stitched hot/cold reads (S1/S4)
@query(
    "q292_tiered_read",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events GROUP BY event_type
""",
    tags=("S1", "S4", "T-streaming"),
)
def q292_tiered_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIERED STORAGE (KIP-405 analog) end-to-end: the events table rides
    the transport in two time waves with CreateTime stamps; every closed
    segment is COPIED to the remote tier eagerly (the object-store
    stand-in every 100 TB estate keeps its cold log in) and the cold
    wave's local copies are reaped past ``local.retention.ms`` — the
    broker's real two-phase lifecycle with its dual-copy window — while
    the hot wave stays local, and a single read STITCHES both tiers into
    one continuous log whose aggregate equals the plain one-copy oracle. The
    query hard-fails if nothing actually tiered or the local tier did not
    shrink, so the oracle match certifies the stitched path, not a
    degenerate all-local read. Scale posture: the local tier holds only
    the working set; planning stays a directory listing per tier; cold
    reads pay one extra metadata hop, exactly a broker's remote fetch."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = tempfile.mkdtemp(prefix="q292_bus")
    log = TopicLog(root)
    log.create_topic("ev", partitions=4)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts",
        F.col("event_id").cast("string").alias("key"),
    )
    mn, mx = ev.agg(
        F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))
    ).first()
    mid = (int(mn) + int(mx)) // 2
    prod = KProducer(host=root, topic="ev", transport="topiclog",
                     key="key", timestamp_col="ts")
    # cold wave first, hot wave second: every cold-wave segment's max
    # CreateTime precedes the boundary, so tiering is deterministic
    prod.write_batch(ev.where(F.unix_millis("ts") < mid))
    prod.write_batch(ev.where(F.unix_millis("ts") >= mid))
    now = int(mx) + 1_000
    log.alter_configs("ev", {"remote.storage.enable": "true",
                             "local.retention.ms": now - mid})
    moved = log.tier_segments("ev", now_ms=now)
    if sum(moved.values()) == 0:
        raise RuntimeError("nothing tiered: the cold wave stayed local")
    lls = log.local_log_start_offset("ev")
    if all(v == 0 for v in lls.values()):
        raise RuntimeError(f"local tier did not shrink: {lls}")
    return read_topic(spark, root, "ev").select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, event_type string",
        ).alias("v")
    ).groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
    )


# --------------- ACL authorizer: principal × operation × pattern (S1/S2)
@query(
    "q293_acl_enforcement",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(3 AS BIGINT) AS denied_ops
FROM events GROUP BY event_type
""",
    tags=("S1", "S2", "T-streaming"),
)
def q293_acl_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``kafka-acls.sh`` / StandardAuthorizer surface end-to-end — the
    broker-side regime every estate running the reference's raw client
    config (src/Consumer.coffee:21-27) actually sits behind: an ACL
    store on the log root grants ``User:etl`` WRITE+READ on topics
    prefixed ``ev`` (KIP-290 prefixed pattern) and READ on its group;
    everyone else is default-denied. The authorized principal produces
    the full events table and reads it back; a DENY-bound intern, the
    ANONYMOUS principal, and an unauthorized group join are each
    REFUSED (three AuthorizationErrors, counted into the result as
    ``denied_ops`` — a silent leak of any one breaks the hash), and the
    denied writes contribute ZERO records, so the read-back aggregate
    equals the plain one-copy oracle over events.
    Scale: authorization is one metadata check per query plan / produce
    call (deny-beats-allow over an O(bindings) store) — nothing rides
    the per-record path, so enforcement costs the same at 100 TB."""
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.acl import (
        AclBinding,
        AclStore,
        AuthorizationError,
    )

    root = tempfile.mkdtemp(prefix="q293_bus")
    n_parts = 4
    store = AclStore(root)
    store.enable()
    for op, rtype, rname, ptype in (
        ("WRITE", "topic", "ev", "prefixed"),
        ("READ", "topic", "ev", "prefixed"),
        ("CREATE", "topic", "ev", "prefixed"),
        ("READ", "group", "app", "literal"),
    ):
        store.add(AclBinding(
            resource_type=rtype, resource_name=rname, pattern_type=ptype,
            principal="User:etl", operation=op, permission="allow",
        ))
    store.add(AclBinding(
        resource_type="topic", resource_name="ev", pattern_type="prefixed",
        principal="User:intern", operation="WRITE", permission="deny",
    ))

    etl = TopicLog(root, "User:etl")
    etl.create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts",
        F.pmod("user_id", F.lit(n_parts)).cast("int").alias("__tp"),
    )
    KProducer(
        host=root, topic="ev", partition_col="__tp", timestamp_col="ts",
        transport="topiclog", options={"principal": "User:etl"},
    ).write_batch(ev)

    denied = 0
    try:  # explicit DENY binding
        TopicLog(root, "User:intern").append("ev", ["x"], partition=0)
    except AuthorizationError:
        denied += 1
    try:  # no binding at all -> default deny
        TopicLog(root).append("ev", ["x"], partition=0)
    except AuthorizationError:
        denied += 1
    try:  # group ACLs are their own resource type
        TopicLog(root, "User:etl").join_group("marketing")
    except AuthorizationError:
        denied += 1
    if denied != 3:
        raise RuntimeError(f"expected 3 denials, saw {denied}")

    gen = etl.join_group("app")
    etl.commit_offsets("app", "ev", etl.end_offsets("ev"), generation=gen)
    return read_topic(spark, root, "ev", principal="User:etl").select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, event_type string",
        ).alias("v")
    ).groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
        F.lit(3).cast("bigint").alias("denied_ops"),
    )


# --------------- schema REFERENCES: shared types across subjects (R4)
@query(
    "q294_schema_references",
    oracle="""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nok
FROM ev GROUP BY event_type
""",
    tags=("S1", "S2", "R3", "R4", "codec", "registry"),
)
def q294_schema_references(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent SCHEMA REFERENCES on the wire (r8 verdict item 4): a
    shared ``Money`` record lives under its own subject and an envelope
    under ``ev-value`` COMPOSES it by reference
    (``references=[{name, subject, version}]``) instead of inlining —
    the shared-envelope/key-type pattern Debezium/Connect estates run.
    Even-id events are framed under the v1 closure (Money = cents only),
    the shared subject is then bumped BACKWARD-compatibly (currency,
    default "USD") and odd-id events ride the v2 closure with
    currency="NOK". One consumer whose reader schema resolves the v2
    closure through the registry decodes BOTH generations: v1 records
    surface the default currency, v2 records their real one — so the
    oracle's parity split (n_nok = odd ids) breaks if reference
    resolution, pinning, or closure-level schema evolution is wrong.
    Scale: references are resolved ONCE at plan time (driver) and once
    per executor per writer id (cached) — record decode cost is
    unchanged; the registry stays O(schemas), never O(records)."""
    import json as _json
    import os
    import tempfile

    from rdkafka_streams_spark.streaming import TopicLog, read_topic
    from rdkafka_streams_spark.streaming.schema_registry import (
        SchemaRegistry,
        from_avro_confluent,
        to_avro_confluent,
    )
    from rdkafka_streams_spark.streaming.topiclog import FORMAT_NAME, register

    root = tempfile.mkdtemp(prefix="q294_bus")
    TopicLog(root).create_topic("ev", partitions=4)
    reg = SchemaRegistry(os.path.join(root, ".schema_registry"))
    money_v1 = _json.dumps({
        "type": "record", "name": "Money",
        "fields": [{"name": "cents", "type": "long"}],
    })
    money_v2 = _json.dumps({
        "type": "record", "name": "Money",
        "fields": [{"name": "cents", "type": "long"},
                   {"name": "currency", "type": "string",
                    "default": "USD"}],
    })
    envelope = _json.dumps({
        "type": "record", "name": "Txn",
        "fields": [{"name": "event_id", "type": "long"},
                   {"name": "event_type", "type": "string"},
                   {"name": "amount", "type": "Money"}],  # by reference
    })
    reg.register("shared-money", money_v1, compatibility="BACKWARD")
    refs_v1 = [{"name": "Money", "subject": "shared-money", "version": 1}]
    sid1 = reg.register("ev-value", envelope, compatibility="BACKWARD",
                        references=refs_v1)
    reg.register("shared-money", money_v2, compatibility="BACKWARD")
    refs_v2 = [{"name": "Money", "subject": "shared-money", "version": 2}]
    sid2 = reg.register("ev-value", envelope, compatibility="BACKWARD",
                        references=refs_v2)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    register(spark)
    wave1 = ev.where(F.col("event_id") % 2 == 0).select(
        to_avro_confluent(
            F.struct(
                "event_id", "event_type",
                F.struct("cents").alias("amount"),
            ),
            reg.resolved_schema(envelope, refs_v1), sid1,
        ).alias("value")
    )
    wave2 = ev.where(F.col("event_id") % 2 == 1).select(
        to_avro_confluent(
            F.struct(
                "event_id", "event_type",
                F.struct("cents", F.lit("NOK").alias("currency"))
                .alias("amount"),
            ),
            reg.resolved_schema(envelope, refs_v2), sid2,
        ).alias("value")
    )
    for w in (wave1, wave2):
        (w.write.format(FORMAT_NAME).mode("append")
         .option("path", root).option("topic", "ev").save())

    dec = read_topic(spark, root, "ev").select(
        from_avro_confluent(
            F.col("value"), os.path.join(root, ".schema_registry"),
            envelope, reader_references=refs_v2,
        ).alias("v")
    )
    return dec.groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.amount.cents").cast("bigint").alias("sum_cents"),
        F.sum((F.col("v.amount.currency") == "NOK").cast("bigint"))
        .cast("bigint").alias("n_nok"),
    )


# --------------- KIP-932 share group: queue semantics on the bus (S1/S4)
@query(
    "q297_share_group_queue",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST((SELECT COUNT(*) FROM events WHERE event_id % 97 = 0)
            AS BIGINT) AS n_archived,
       CAST((SELECT COUNT(*) FROM events
             WHERE event_id % 13 = 0 AND event_id % 97 <> 0)
            AS BIGINT) AS n_redelivered
FROM events WHERE event_id % 97 <> 0
GROUP BY event_type
""",
    tags=("S1", "S4", "T-streaming"),
)
def q297_share_group_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARE GROUPS (KIP-932, Kafka 4.0's 'Queues for Kafka') end-to-end —
    the queue-shaped consumption model beyond the reference's classic
    consumer (src/Consumer.coffee owns partitions; a share group's
    members all draw from every partition under per-record acquisition
    locks). The events table rides a 4-partition topic; THREE members
    drain it cooperatively in fixed batches with work-queue rules:
    records with event_id % 97 == 0 are REJECTED (explicit poison →
    Archived), records with event_id % 13 == 0 are RELEASED on first
    delivery and acknowledged only on their redelivery (delivery_count
    2), everything else acks first time. The query then asserts the
    share-partition bookkeeping — SPSO caught up to SPEO everywhere,
    zero in-flight, zero residual state (the acked prefix collapse) —
    and binds the OBSERVED archive/redelivery counters into the result,
    which the oracle reconstructs relationally: a lost record, a double
    delivery, a mis-archived offset, or a leaked lock breaks the hash.
    Scale: coordinator state is O(in-flight + gap) by construction
    (asserted at zero after drain), never O(consumed); the final
    aggregate is the distributed read — the driver-side loop is the
    CLIENT, exactly as queue consumers run."""
    import json as _json
    import tempfile

    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.sharegroups import ShareGroup

    root = tempfile.mkdtemp(prefix="q297_bus")
    n_parts = 4
    TopicLog(root).create_topic("ev", partitions=n_parts)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.pmod("user_id", F.lit(n_parts)).cast("int").alias("__tp"),
    )
    KProducer(
        host=root, topic="ev", partition_col="__tp", transport="topiclog",
    ).write_batch(ev)

    sg = ShareGroup(root, "workers", lock_duration_ms=3_600_000,
                    delivery_attempt_limit=5)
    members = ("alice", "bob", "carol")
    now = 1_700_000_000_000
    n_archived = n_redelivered = 0
    step = 0
    while True:
        m = members[step % 3]
        step += 1
        got = sg.fetch("ev", m, max_records=1999, now_ms=now + step)
        if not got:
            break
        acks: dict[int, list[int]] = {}
        rejects: dict[int, list[int]] = {}
        releases: dict[int, list[int]] = {}
        for r in got:
            eid = _json.loads(bytes(r["value"]))["event_id"]
            if eid % 97 == 0:
                rejects.setdefault(r["partition"], []).append(r["offset"])
            elif eid % 13 == 0 and r["delivery_count"] == 1:
                releases.setdefault(r["partition"], []).append(r["offset"])
            else:
                if r["delivery_count"] > 1:
                    n_redelivered += 1
                acks.setdefault(r["partition"], []).append(r["offset"])
        if acks:
            sg.ack("ev", m, acks, now_ms=now + step)
        if rejects:
            sg.reject("ev", m, rejects, now_ms=now + step)
            n_archived += sum(len(v) for v in rejects.values())
        if releases:
            sg.release("ev", m, releases, now_ms=now + step)
    d = sg.describe("ev")
    if any(v["spso"] != v["speo"] or v["in_flight"] or v["lag"]
           for v in d.values()):
        raise RuntimeError(f"queue not drained cleanly: {d}")
    if sg.state_size("ev") != 0:
        raise RuntimeError("share state leaked past the SPSO collapse")

    dec = read_topic(spark, root, "ev").select(
        F.from_json(F.col("value").cast("string"),
                    "event_id long, event_type string").alias("v")
    ).where(F.col("v.event_id") % 97 != 0)
    return dec.groupBy(F.col("v.event_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v.event_id").cast("bigint").alias("sum_event_id"),
        F.lit(n_archived).cast("bigint").alias("n_archived"),
        F.lit(n_redelivered).cast("bigint").alias("n_redelivered"),
    )
