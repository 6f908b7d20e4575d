"""Similarity search over embedding columns (SURVEY.md §2.6 L3).

Brute-force cosine top-k is the correctness baseline: queries broadcast, dot
products computed JVM-side with higher-order array functions (zip_with +
aggregate — no Python in the row path), top-k per query via window rank.

The scale path is IVF-style pruning: restrict candidates to the query's
coarse cell (here the precomputed ``label`` column stands in for a coarse
quantizer assignment). At 100 TB the table is partitioned by cell id, so the
candidate join prunes partitions instead of scanning the corpus; the same
plan shape serves the cell column ``kmeans_integer`` assigns.

All float→double casts happen per element *before* multiply so any oracle
computing in double matches bit-for-bit (modulo summation order — cosine is
rounded to 6 decimals on output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# scale-adaptive parallelism guard: one-row-group scans serialize the
# per-row assignment folds onto one core; no-op at production scale
# (see operators/spread.py)
from rdkafka_streams_spark.operators.spread import FOLD_MIN_BYTES
from rdkafka_streams_spark.operators.spread import spread as _spread


def _dot(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query vector.

    ``cell_col`` switches brute-force (None → full cross join against the
    broadcast query set) to IVF-pruned (join on cell equality).
    Output: q_id, vec_id, cos (rounded to 6).
    """
    # Norms are per-VECTOR, not per-pair: factor them out before the join so
    # each |Q|×|corpus| candidate row does one dot product, not a dot plus
    # two redundant 64-element norm folds (~3× the interpreted-lambda work).
    qcols = [F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"),
             _norm(vec_col).alias("q_nrm")]
    if cell_col:
        qcols.append(F.col(cell_col).alias("q_cell"))
    q = queries.select(*qcols)
    emb = emb.withColumn("__nrm", _norm(vec_col))

    cond = F.col(id_col) != F.col("q_id")
    if cell_col:
        cond = cond & (F.col(cell_col) == F.col("q_cell"))
    pairs = emb.join(F.broadcast(q), cond)

    cos = _dot(vec_col, "q_emb") / (F.col("__nrm") * F.col("q_nrm"))
    scored = pairs.select("q_id", id_col, cos.alias("_cos"))
    return _top_k(scored, "q_id", F.col("_cos").desc(), id_col, k).select(
        "q_id", id_col, F.round("_cos", 6).alias("cos")
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Near-duplicate vector pairs within a coarse cell (L2 embedding-cosine
    variant): pairs (id1 < id2) with cosine ≥ threshold."""
    # per-vector norm factored out of the pair stage (see cosine_topk)
    withn = emb.withColumn("__nrm", _norm(vec_col))
    a = withn.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"),
        F.col(cell_col).alias("c1"), F.col("__nrm").alias("n1"),
    )
    b = withn.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"),
        F.col(cell_col).alias("c2"), F.col("__nrm").alias("n2"),
    )
    pairs = a.join(b, (F.col("c1") == F.col("c2")) & (F.col("id1") < F.col("id2")))
    # Arrow-vectorized dot for the pair-dense stage: the HOF fold is
    # interpreted per row and 6× slower here (functions/udfs.py pair_dot).
    # Last-ulp summation-order differences vanish under the round-to-6.
    from rdkafka_streams_spark.functions.udfs import pair_dot

    cos = pair_dot("v1", "v2") / (F.col("n1") * F.col("n2"))
    return (
        pairs.select("id1", "id2", F.round(cos, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# ------------------------------------------------- random-hyperplane LSH
def hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (j, d)
    derives from md5(f"{j}:{d}") — engine-independent, so the whole LSH
    construction is SQL-oracle-able (the same trick as the MinHash seeds).
    The oracle generator in queries/llm.py consumes THIS function, so Spark
    and SQL literally share the constants."""
    import hashlib

    return [
        [
            round(
                (int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16) / 0xFFFFFFFF)
                * 2
                - 1,
                6,
            )
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def hyperplane_signature(vec_col: str | Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit_j = (v · h_j ≥ 0); packed little-endian."""
    sig = None
    for j, p in enumerate(planes):
        dot = _dot(vec_col, F.array(*[F.lit(x) for x in p]))
        bit = F.when(dot >= 0, F.lit(2**j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig.cast("long")


def hyperplane_lsh_pairs(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Angular-LSH candidate pairs with exact cosine scores: vectors sharing
    the full sign-bit signature (cos θ likely high ⇒ all planes agree) are
    candidates; each candidate pair gets one exact Arrow-vectorized cosine.

    The classic random-hyperplane scheme (Charikar'02) — the third ANN
    blocking strategy here beside the KMeans-cell IVF and the coarse-label
    cells, and the one needing no training pass. Scale shape is identical
    to MinHash LSH: signature groupBy → sorted posting-list explode (each
    unordered pair once, no self-join) → per-pair verify; degenerate-bucket
    caps from llm/dedup.py apply verbatim at corpus scale. Output:
    (id1, id2, cos) — thresholding is the caller's policy."""
    planes = hyperplanes(n_planes, dim)
    withn = (
        emb.select(id_col, vec_col)
        .withColumn("__sig", hyperplane_signature(vec_col, planes))
        .withColumn("__nrm", _norm(vec_col))
    )
    posts = (
        withn.groupBy("__sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = (
        posts.select(F.col("ids"), F.explode("ids").alias("id1"))
        .select("id1", F.explode("ids").alias("id2"))
        .where(F.col("id1") < F.col("id2"))
    )
    a = withn.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"), F.col("__nrm").alias("n1")
    )
    b = withn.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"), F.col("__nrm").alias("n2")
    )
    from rdkafka_streams_spark.functions.udfs import pair_dot

    cos = pair_dot("v1", "v2") / (F.col("n1") * F.col("n2"))
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select("id1", "id2", F.round(cos, 6).alias("cos"))
    )


def hamming_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BINARY-CODE search tier (FAISS IndexBinaryFlat): pack each vector
    into an ``n_planes``-bit sign code against the deterministic
    md5-derived hyperplanes (``hyperplanes`` — the exact q92 construction,
    so the LSH bucketing and this code are the same geometry), then serve
    top-k by HAMMING distance — one XOR + popcount per candidate, ties
    (dist, id). The cheapest serving tier in the quantization ladder
    (float → int8 SQ → PQ → 1 bit/plane): a 64-dim float32 vector becomes
    4 bytes at n_planes=32, and distance is one ALU op, no multiply.

    Scale: codes are built map-side (the planes are literals); queries
    broadcast; one scan + per-query top-k window — the q54 brute-force
    shape at 1/64 the bytes and integer compare. Returns
    (q_id, <id_col>, hamming)."""
    planes = hyperplanes(n_planes, dim)
    sig = hyperplane_signature(vec_col, planes)
    codes = emb.select(F.col(id_col), sig.alias("code"))
    qc = queries.select(F.col(id_col).alias("q_id"), sig.alias("q_code"))
    return _top_k(
        codes.join(F.broadcast(qc), F.col(id_col) != F.col("q_id"))
        .withColumn("dist", F.expr("bit_count(code ^ q_code)").cast("int")),
        "q_id", "dist", id_col, k,
    ).select("q_id", F.col(id_col), F.col("dist").alias("hamming"))


# ------------------------------------------------ int8 scalar quantization
def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|v|/127,
    q_i = floor(v_i/scale + 0.5) ∈ [-127, 127].

    The memory-compression path for similarity search at corpus scale:
    float32 embeddings shrink 4× (1 byte/dim), so the same executor RAM
    holds 4× more vectors — the difference between spilling and an
    in-memory ANN sweep at 100 TB. Cosine is scale-invariant, so quantized
    cosine needs only the int vectors; all arithmetic before the final
    sqrt/divide is integer and therefore EXACT and summation-order-free
    (stronger determinism than the float paths, which lean on round-to-6).

    Everything is built-in column expressions (transform/aggregate) —
    no Python on the row path; ``floor(x + 0.5)`` is used instead of
    engine ``round`` so Spark and the DuckDB oracle share half-up
    semantics bit-for-bit.
    """
    maxabs = F.aggregate(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0)
    return (
        emb.withColumn("__scale", scale)
        .withColumn(
            q_col,
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") / F.col("__scale") + F.lit(0.5)).cast("long"),
            ),
        )
        .drop("__scale")
    )


def _int_ssq(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.aggregate(
        F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def quantized_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors computed entirely on int8-quantized vectors
    (quantize_embeddings): integer dot and sum-of-squares (exact), one
    float sqrt/divide at the end. Same plan shape as cosine_topk —
    queries broadcast, per-vector norms factored out before the join,
    per-query window top-k — but the candidate scan touches 1/4 the
    bytes. Output: q_id, vec_id, qcos (rounded to 6)."""
    corpus = quantize_embeddings(emb.select(id_col, vec_col), vec_col).withColumn(
        "__nrm", F.sqrt(_int_ssq("qvec").cast("double"))
    )
    q = (
        quantize_embeddings(queries.select(id_col, vec_col), vec_col)
        .select(
            F.col(id_col).alias("q_id"),
            F.col("qvec").alias("q_qvec"),
            F.sqrt(_int_ssq("qvec").cast("double")).alias("q_nrm"),
        )
    )
    pairs = corpus.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
    idot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("q_qvec"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = idot.cast("double") / (F.col("__nrm") * F.col("q_nrm"))
    return _top_k(
        pairs.select("q_id", id_col, cos.alias("_cos")),
        "q_id", F.col("_cos").desc(), id_col, k,
    ).select("q_id", id_col, F.round("_cos", 6).alias("qcos"))


def embedding_dim_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension corpus statistics (mean, std, min, max) — the
    mean-centering/whitening precursor every embedding pipeline computes
    before indexing (and the sanity check that catches dead or exploding
    dimensions after a model change).

    posexplode flattens (row, dim) pairs; one aggregation keyed on the
    dimension index (64 groups — trivially balanced). At corpus scale the
    partial aggs collapse each partition to ≤dim rows before the shuffle,
    so the network cost is executors×dim, independent of row count."""
    flat = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return (
        flat.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("x"), 6).alias("mu"),
            F.round(F.stddev_pop("x"), 6).alias("sigma"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
    )


# ------------------------------------------------- product quantization (PQ)
def pq_codebooks(m: int = 8, n_codes: int = 16, dim: int = 64) -> list[list[list[float]]]:
    """Deterministic pseudo-random PQ codebooks: centroid component
    (j, c, i) derives from md5(f"pq:{j}:{c}:{i}") in [-1, 1), rounded to 6
    — engine-independent, so encode AND search are SQL-oracle-able (the
    hyperplanes() trick applied to product quantization). Training-free
    stand-in for KMeans codebooks: same shapes, same plan, lower recall."""
    import hashlib

    sub = dim // m
    return [
        [
            [
                round(
                    (int(hashlib.md5(f"pq:{j}:{c}:{i}".encode()).hexdigest()[:8], 16) / 0xFFFFFFFF)
                    * 2
                    - 1,
                    6,
                )
                for i in range(sub)
            ]
            for c in range(n_codes)
        ]
        for j in range(m)
    ]


def _cb_sql(codebooks: list[list[list[float]]]) -> str:
    """The codebooks as ONE nested array literal in SQL-expression text.

    Keeping the constants inside a single literal (≈8 KB of data) and
    doing the arithmetic with higher-order functions keeps the expression
    tree tiny; inlining per-centroid terms instead builds a million-node
    tree that costs more to analyze/serialize than to execute (measured:
    5.8 MiB task binaries, ~17 s of plan overhead at sf0.01)."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join("array(" + ", ".join(repr(x) for x in c) + ")" for c in cbj)
            + ")"
            for cbj in codebooks
        )
        + ")"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as m nearest-centroid codes (array<int>): the
    64-float vector becomes m small ints — 32× smaller than float32 at
    m=8, which is what lets a 100 TB embedding corpus live in executor
    memory for the candidate sweep. Ties break to the first minimal
    centroid (array_position of array_min), identically in SQL.

    Zero Python on the row path: one nested-literal codebook constant and
    higher-order functions (transform/zip_with/aggregate) do the
    m·n_codes·sub multiply-adds per row."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cb = _cb_sql(codebooks)
    dists = (
        f"transform(sequence(0, {m - 1}), j -> "
        f"transform(element_at({cb}, CAST(j + 1 AS INT)), c -> "
        f"aggregate(zip_with(slice({vec_col}, CAST(j * {sub} + 1 AS INT), {sub}), c, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0.0 AS DOUBLE), (a, b) -> a + b)))"
    )
    codes = f"transform({dists}, ds -> CAST(array_position(ds, array_min(ds)) - 1 AS INT))"
    return emb.select(id_col, F.expr(codes).alias("codes"))


def pq_search_adc(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact; each database vector is its reconstruction from the codebooks.
    approx_cos = Σ_j q_j·cb_j[code_j] / (‖q‖ · sqrt(Σ_j ‖cb_j[code_j]‖²)).

    The centroid lookup is element_at into one nested-literal array (an
    O(m) probe per pair, no fold over the raw 64-float vector — ADC's
    whole point); queries broadcast; top-k is the usual per-query window.
    Output: (q_id, vec_id, approx_cos rounded to 6)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cb = _cb_sql(codebooks)
    n2 = (
        "array("
        + ", ".join(
            "array(" + ", ".join(repr(round(sum(x * x for x in c), 6)) for c in cbj) + ")"
            for cbj in codebooks
        )
        + ")"
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_emb"),
        _norm(vec_col).alias("q_nrm"),
    )
    pairs = codes.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
    adot = (
        f"aggregate(transform(sequence(0, {m - 1}), j -> "
        f"aggregate(zip_with(slice(q_emb, CAST(j * {sub} + 1 AS INT), {sub}), "
        f"element_at(element_at({cb}, CAST(j + 1 AS INT)), element_at(codes, CAST(j + 1 AS INT)) + 1), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (a, b) -> a + b)), "
        f"CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    anrm2 = (
        f"aggregate(transform(sequence(0, {m - 1}), j -> "
        f"element_at(element_at({n2}, CAST(j + 1 AS INT)), element_at(codes, CAST(j + 1 AS INT)) + 1)), "
        f"CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    cos = F.expr(adot) / (F.col("q_nrm") * F.sqrt(F.expr(anrm2)))
    return _top_k(
        pairs.select("q_id", id_col, cos.alias("_c")),
        "q_id", F.col("_c").desc(), id_col, k,
    ).select("q_id", id_col, F.round("_c", 6).alias("approx_cos"))


def _pq_sub_width(emb: DataFrame, m: int, vec_col: str) -> int:
    """Subvector width for m PQ blocks — the shared dim probe + index
    math of every PQ/IVF-PQ trainer. Raises ValueError on a dim that
    does not divide into m blocks (every block must cover the same
    number of dims, and no trailing dim may be dropped), and the
    module's 'empty corpus' ValueError instead of an opaque NoneType
    crash on an empty or NULL-embedding probe row."""
    row = emb.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError("no vectors (empty corpus or NULL embedding?)")
    dim = len(row[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    return dim // m


def _pq_block_slice(vec_col: str, j: int, sub: int):
    """The j-th subvector (1-based slice) — shared by every PQ trainer."""
    return F.slice(F.col(vec_col), j * sub + 1, sub)


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Mutual k-nearest-neighbor graph (the edge set behind near-dup
    clustering, diversity filtering, and graph-based corpus curation):
    per vector, its top-k cosine neighbors *within its block*, then keep
    only edges both endpoints agree on (i in knn(j) AND j in knn(i)) —
    the standard mutual-kNN symmetrization that drops hub-induced edges.

    Blocking keeps the pair count at Σ|block|² rather than N²; at 100 TB
    the block column is an LSH bucket or IVF cell from this module, so
    the same code path scales by construction. Norms factor out per
    vector before the join (one dot per pair); top-k is one window rank
    per source vector; the mutual check self-joins the top-k edge list —
    a frame already k·N small, so at 100 TB either recompute it (default)
    or pre-persist it caller-side before symmetrizing. Output: src < dst,
    cos (rounded 6) — deterministic because ranking orders by the rounded
    cosine with the neighbor id as tiebreak.
    """
    e = emb.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("src"),
        F.col(vec_col).alias("__v"),
        _norm(vec_col).alias("__n1"),
    )
    f = emb.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("dst"),
        F.col(vec_col).alias("__w"),
        _norm(vec_col).alias("__n2"),
    )
    pairs = e.join(f, "__blk").where(F.col("src") != F.col("dst"))
    cos = F.round(_dot("__v", "__w") / (F.col("__n1") * F.col("__n2")), 6)
    scored = pairs.select("src", "dst", cos.alias("cos"))
    topk = _top_k(scored, "src", F.col("cos").desc(), "dst", k)
    a, b = topk.alias("a"), topk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.src") == F.col("b.dst")) & (F.col("a.dst") == F.col("b.src")),
        )
        .where(F.col("a.src") < F.col("a.dst"))
        .select(F.col("a.src").alias("src"), F.col("a.dst").alias("dst"), F.col("a.cos").alias("cos"))
    )


# ------------------------------------------- oracle-exact k-means + IVF
def quantize_global(vec_col: str | Column, scale: int = 1000) -> Column:
    """GLOBAL fixed-scale integer quantization: q_i = floor(v_i·scale +
    0.5) as bigint. Unlike ``quantize_embeddings`` (PER-VECTOR scale,
    right for scale-invariant cosine), a single global scale preserves
    EUCLIDEAN geometry across vectors — the metric k-means optimizes.
    float→double widening and the floor(x+0.5) half-up are bit-identical
    in Spark and DuckDB, so everything downstream is integer-exact."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c,
        lambda x: F.floor(
            x.cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).cast("long"),
    )


def _int_l2(a: str | Column, b: str | Column) -> Column:
    """Integer squared euclidean distance between two long arrays —
    summation-order-free, engine-exact (no float accumulates)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _lit_qc(qc: list[int]) -> Column:
    """A centroid/codebook row as a long-array literal (shared by every
    integer ANN path, so the cast convention cannot drift)."""
    return F.array(*[F.lit(v).cast("long") for v in qc])


def _arg_top_cids(
    vec: str | Column,
    cents: list[tuple[int, list[int]]],
    n_assign: int,
) -> Column:
    """Map-side top-``n_assign`` nearest-centroid ids over LITERAL
    centroids — the module's one nearest-centroid expression; element 0 of
    ``n_assign=1`` is the argmin. Score every centroid as a (dist, cid)
    struct, array_sort (struct order IS the (dist, cid)-ascending total
    order, so ties go to the smaller cid), slice the head. A NULL or
    short vector scores NULL against every centroid; NULL fields sort
    first and tie, so it lands in the smallest cid (the first one in the
    cid-ascending lists the trainers return). No join, no shuffle, no
    window.

    Sizing: the centroids ride INSIDE the plan as literals — right for
    a coarse quantizer's k (tens to ~1k cells; k×dim longs of plan
    text). A k in the tens of thousands would bloat codegen past JVM
    method limits; at that size switch assignment to a broadcast join
    against a centroid table (one broadcast, still no shuffle of the
    corpus) and keep the same integer arithmetic."""
    if not cents:
        raise ValueError("no centroids (empty corpus?)")
    vec = F.col(vec) if isinstance(vec, str) else vec
    scored = F.array(*[
        F.struct(_int_l2(vec, _lit_qc(qc)).alias("d"),
                 F.lit(cid).alias("cid"))
        for cid, qc in cents
    ])
    return F.transform(
        F.slice(F.array_sort(scored), 1, n_assign), lambda s: s["cid"]
    )


def _top_k(
    df: DataFrame,
    by: str,
    dist: str | Column,
    ident: str,
    k: int,
    dense: bool = False,
) -> DataFrame:
    """Each ``by`` group's first ``k`` rows in the total (``dist``,
    ``ident``) order — the module's one per-group top-k, so the tie rule
    (equal distance → smaller id) is written once. ``dist`` ascends
    unless the caller passes a descending Column (cosine). ``dense``
    ranks with dense_rank: rows equal in both keys (one pair reached
    twice) share a rank and cannot eat slots; the caller dedups."""
    rank = F.dense_rank() if dense else F.row_number()
    w = Window.partitionBy(by).orderBy(dist, ident)
    return (
        df.withColumn("__rk", rank.over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def _lloyd(
    q: DataFrame,
    id_col: str,
    cols: list[str],
    k: int,
    n_iters: int,
) -> tuple[list[DataFrame], list[list[tuple[int, list[int]]]]]:
    """Lloyd's k-means in INTEGER arithmetic over the quantized block
    columns ``cols`` of ``q``, every block in LOCKSTEP — the module's one
    trainer loop: ``kmeans_integer`` is its one-block case,
    ``build_pq_codebooks_integer`` its m-block case, and the by-residual
    IVFPQ trainer runs it on the m residual slices.

    Per block, piece by piece: the k seeds are the rows ordered by
    ``md5(cast(id as string))`` (engine-identical pseudo-random order),
    cid = 1..k in that order; assignment takes the minimum integer
    squared L2 with ties to the smaller cid (``_arg_top_cids``); the
    update is the per-dim truncating integer mean (``sum div count`` —
    Spark ``div`` and DuckDB ``//`` both truncate toward zero); a
    cluster left empty keeps its previous centroid. Every quantity is a
    bigint, so no summation order or float rounding can diverge.

    The blocks are independent but share every job boundary: the seed
    rows are the same rows for every block (the order is a function of
    the id alone) and the means are per-(block, cid, dim) groups. So
    training is ONE seeds job + ONE means job per iteration over one
    persisted frame, for any block count. Assignment is map-side over
    the centroids as literals (driver metadata, k×dim longs): no join;
    the only shuffle is the means aggregate, partially aggregated
    map-side. Returns (per block the (id, qv, cid) assignments against
    the centroids of the last iteration, per block the final centroids
    [(cid, [dim longs])])."""
    if n_iters < 1:
        raise ValueError(
            "n_iters must be >= 1 (there is no assignment against raw "
            "seeds to return)"
        )
    q = _spread(q, min_bytes=FOLD_MIN_BYTES).persist()
    try:
        seeds = (
            q.withColumn("__o", F.md5(F.col(id_col).cast("string")))
            .orderBy("__o", id_col)
            .limit(k)
            .collect()
        )
        cents = [
            [(i + 1, [int(v) for v in row[c]]) for i, row in enumerate(seeds)]
            for c in cols
        ]
        for _ in range(n_iters):
            used = cents
            stacked = q.select(
                F.explode(F.array(*[
                    F.struct(
                        F.lit(j).alias("b"),
                        _arg_top_cids(c, used[j], 1)[0].alias("cid"),
                        F.col(c).alias("qv"),
                    )
                    for j, c in enumerate(cols)
                ])).alias("e")
            ).select("e.b", "e.cid", F.posexplode("e.qv").alias("i0", "v"))
            means = (
                stacked.groupBy("b", "cid", F.expr("i0 + 1").alias("i"))
                .agg(F.expr("sum(v) div count(*)").alias("val"))
                .collect()
            )
            got: dict[tuple[int, int], dict[int, int]] = {}
            for r in means:
                got.setdefault((r["b"], r["cid"]), {})[r["i"]] = int(r["val"])
            cents = [
                [
                    (
                        cid,
                        [d[i] for i in sorted(d)]
                        if (d := got.get((j, cid))) is not None
                        else prev,  # empty cluster keeps its centroid
                    )
                    for cid, prev in block
                ]
                for j, block in enumerate(used)
            ]
    finally:
        q.unpersist()
    assigned = [
        q.select(
            id_col, F.col(c).alias("qv"),
            _arg_top_cids(c, used[j], 1)[0].alias("cid"),
        )
        for j, c in enumerate(cols)
    ]
    return assigned, cents


def kmeans_integer(
    emb: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Lloyd's k-means in INTEGER arithmetic — the library's one IVF
    coarse quantizer. It is exactly SQL-replicable, so IVF TRAINING
    itself enters the correctness gate, not just its recall.

    Vectors quantize under one global scale (``quantize_global``); the
    training is the one-block case of the lockstep trainer ``_lloyd``,
    which states the determinism rules (md5 seeding, ties to the smaller
    cid, truncating means, empty-cluster carry). No dim probe runs.

    Distribution shape (the BPE posture): per iteration ONE Spark job —
    assignment is a MAP-SIDE nearest-centroid pick over the centroids
    embedded as a LITERAL array (they are driver metadata, k×dim longs):
    zero shuffle, zero join — a window over an N×k crossJoin would
    shuffle N×k rows per iteration, the kind of cost a 100 TB corpus
    cannot pay. The only shuffle is the per-(cid, dim) mean (k×dim
    groups, map-side partial aggregation). The k×dim new centroids
    collect as DRIVER METADATA (the same contract as BPE merge rules — a
    few KB at any corpus size). Returns (assignments DataFrame (id, qv,
    cid) against the last iteration's centroids, final centroids as
    [(cid, [dim longs])])."""
    q = emb.select(F.col(id_col), quantize_global(vec_col, scale).alias("qv"))
    (assigned,), (cents,) = _lloyd(q, id_col, ["qv"], k, n_iters)
    return assigned, cents


def _probe(
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    nprobe: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells — the probe stage of every
    IVF search: the quantized queries cross the broadcast k-row centroid
    table, integer L2, ties to the smaller cid. Returns (q_id, __q_qv,
    cid, qc) — nq × nprobe rows, broadcast-sized."""
    cdf = queries.sparkSession.createDataFrame(
        cents, "cid int, qc array<bigint>"
    )
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        quantize_global(vec_col, scale).alias("__q_qv"),
    )
    return _top_k(
        qs.crossJoin(F.broadcast(cdf))
        .withColumn("__d", _int_l2("__q_qv", "qc")),
        "q_id", "__d", "cid", nprobe,
    ).drop("__d")


def ivf_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """END-TO-END oracle-exact IVF-ANN: train the coarse quantizer with
    ``kmeans_integer``, assign the corpus, probe each query's ``nprobe``
    nearest cells (integer L2 to the centroids, ties to smaller cid),
    and take the ``k`` nearest candidates within the probed cells (ties
    to smaller id). Every number on the path is a bigint, so train,
    probe, AND search are all value-hash-checkable against SQL.
    Returns (q_id, id, dist_sq).

    Scale posture: centroids broadcast (k×dim longs), the candidate
    join hits the inverted lists on the cell key
    (partition pruning when the corpus is written partitioned by cell),
    candidate fraction ≈ nprobe/n_cells."""
    assigned, cents = kmeans_integer(
        emb, k=n_cells, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    probes = _probe(queries, cents, nprobe, scale, id_col, vec_col)
    cand = assigned.join(
        F.broadcast(probes.select("q_id", "__q_qv", "cid")), "cid"
    ).where(F.col(id_col) != F.col("q_id"))
    return _top_k(
        cand.withColumn("__d", _int_l2("qv", "__q_qv")),
        "q_id", "__d", id_col, k,
    ).select("q_id", F.col(id_col), F.col("__d").alias("dist_sq"))


def build_pq_codebooks_integer(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 4,
    n_iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, DataFrame, list[tuple[int, list[int]]]]]:
    """ORACLE-EXACT PQ codebook training: integer k-means per subvector
    block — the m-block case of the lockstep trainer ``_lloyd``, and the
    library's one PQ trainer, so PQ TRAINING itself is
    value-hash-checkable — every subspace inherits the integer trainer's
    determinism (global quantization, md5 seeding, tie-breaks,
    truncating means, empty-cluster carry). Subvector slicing happens
    BEFORE quantization, so each block trains on exactly the bytes its
    ADC distance table will see.

    Returns [(subspace, assignments df (id, qv, code cid), centroids)]
    — per-block; the centroids are driver metadata (m × k × dim/m
    longs), the same contract as the full-vector trainer.

    LOCKSTEP TRAINING (r15): all m blocks train in ONE seeds job + ONE
    means job per iteration over a single persisted frame carrying every
    block's quantized slice, instead of m sequential one-block runs
    (m×(1+n_iters) barrier jobs → 1+n_iters; measured r15: q308's
    trainer segment was 12 of its 27 jobs). The arithmetic is the
    one-block trainer's, bit for bit — q301/q307/q308's oracles (the
    unrolled per-block CTE chains) gate the equality."""
    sub = _pq_sub_width(emb, m, vec_col)
    cols = [f"__qv{j}" for j in range(m)]
    assigned, cents = _lloyd(
        emb.select(F.col(id_col), *[
            quantize_global(_pq_block_slice(vec_col, j, sub), scale)
            .alias(c)
            for j, c in enumerate(cols)
        ]),
        id_col, cols, n_codes, n_iters,
    )
    return [(j, assigned[j], cents[j]) for j in range(m)]


def _pq_code_cols(
    vec_col: str, cbs: list, sub: int, requantize: bool = False,
    scale: int = 1000,
) -> list[Column]:
    """Per-block PQ code columns ``__code{j}``: map-side argmin of the
    j-th subvector slice against that block's codebook (ties to the
    smaller code). ``requantize`` re-scales integer residual slices the
    way the residual trainer saw them — at the SAME ``scale`` the
    trainer used, or the codes silently diverge from the codebooks."""
    out = []
    for j, cb in enumerate(cbs):
        sl = _pq_block_slice(vec_col, j, sub)
        if requantize:
            sl = quantize_global(sl, scale)
        out.append(_arg_top_cids(sl, cb, 1)[0].alias(f"__code{j}"))
    return out


def _pq_dt_cols(
    vec_col: str, cbs: list, sub: int, requantize: bool = False,
    scale: int = 1000,
) -> list[Column]:
    """Per-block ADC distance-table columns ``__dt{j}``: one long array
    per block, entry c = integer L2(query block j, codebook centroid c),
    index c == code (1-based ``element_at``). ``requantize`` must use
    the trainer's ``scale`` (see ``_pq_code_cols``)."""
    out = []
    for j, cb in enumerate(cbs):
        sl = _pq_block_slice(vec_col, j, sub)
        if requantize:
            sl = quantize_global(sl, scale)
        out.append(
            F.array(*[_int_l2(sl, _lit_qc(qc)) for _cid, qc in cb])
            .alias(f"__dt{j}")
        )
    return out


def _adc_topk(cand: DataFrame, m: int, k: int, id_col: str) -> DataFrame:
    """Summed ADC lookups + per-query top-k — the shared epilogue of the
    three PQ search paths (single-sourced so the (adist, id) tie-break
    and the 1-based element_at convention cannot drift). ``cand`` rows
    carry q_id, the id column, ``__code{j}`` and ``__dt{j}``."""
    from functools import reduce as _reduce

    adist = _reduce(
        lambda a, b: a + b,
        [
            F.element_at(F.col(f"__dt{j}"), F.col(f"__code{j}"))
            for j in range(m)
        ],
    )
    return _top_k(
        cand.select("q_id", id_col, adist.alias("adist")),
        "q_id", "adist", id_col, k,
    )


def pq_search_adc_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 4,
    n_iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """END-TO-END oracle-exact PQ search: train per-block integer
    codebooks (``build_pq_codebooks_integer``), ENCODE the corpus
    against the FINAL codebooks (m map-side nearest-code picks per
    row — one pass, zero shuffle, zero join, ties to the smaller code),
    build each query's asymmetric-distance tables (m × n_codes integer
    L2 entries — driver-free, computed in one projection over the
    query rows), and take the ADC top-k: the approximate distance
    between a query and a database vector is the sum over blocks of
    dtable[j][code_j] — m ``element_at`` lookups per pair, never a fold
    over the raw vector (ADC's whole point). Every number on the path
    is a bigint, so training, encoding, table build, AND search are all
    value-hash-checkable against SQL — closing the last link of the PQ
    chain the way ``ivf_search_integer`` closed IVF (q307 proved
    training only; ``pq_search_adc`` searches deterministic untrained
    codebooks).

    Scale posture: codebooks are driver metadata (m·n_codes·dim/m
    longs) riding as literals; corpus codes are m small ints per row
    (the 100 TB compression that makes the sweep memory-resident);
    queries broadcast with their precomputed tables; one top-k window
    per query. Ties break (adist, id) ascending. Returns
    (q_id, id, adist)."""
    sub = _pq_sub_width(emb, m, vec_col)
    blocks = build_pq_codebooks_integer(
        emb, m=m, n_codes=n_codes, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    cbs = [cents for _, _, cents in blocks]  # cid-ascending per block
    qemb = emb.select(
        F.col(id_col), quantize_global(vec_col, scale).alias("__qv")
    )
    codes = qemb.select(id_col, *_pq_code_cols("__qv", cbs, sub))
    # Per-query ADC tables: dt_j[c] = int L2(query block j, centroid c),
    # index c == cid (1-based element_at), one array per block.
    qdt = queries.select(
        F.col(id_col).alias("q_id"),
        quantize_global(vec_col, scale).alias("__q_qv"),
    ).select("q_id", *_pq_dt_cols("__q_qv", cbs, sub))
    pairs = codes.join(F.broadcast(qdt), F.col(id_col) != F.col("q_id"))
    return _adc_topk(pairs, m, k, id_col)


def ivfpq_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    coarse_iters: int = 3,
    m: int = 4,
    n_codes: int = 4,
    pq_iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[tuple[int, list[int]]] | None = None,
    codebooks: list[list[tuple[int, list[int]]]] | None = None,
    index: dict | None = None,
) -> DataFrame:
    """IVF+PQ composition, oracle-exact end to end — the modern ANN
    architecture (FAISS's IVFPQ, here with by_residual=false): the
    integer coarse quantizer PRUNES (only ``nprobe``/``n_cells`` of the
    corpus is touched per query — ``ivf_search_integer``'s geometry),
    and integer PQ codes RANK the surviving candidates by ADC table
    lookups (``pq_search_adc_integer``'s compression — m small ints per
    row instead of the raw vector). Both trainers, the corpus encode,
    cell probing, and the final top-k are all bigint arithmetic, so the
    complete prune-then-rank pipeline is one SQL hash gate.

    Scale posture: centroids and codebooks are driver metadata
    (literals/broadcast); the corpus carries (cell id + m codes) per
    row; the candidate join hits inverted lists on the cell key
    (partition pruning once the corpus is written partitioned by cell);
    per-candidate cost is m ``element_at`` lookups. Ties break
    (adist, id) ascending. Returns (q_id, id, adist).

    ``coarse`` / ``codebooks`` accept SAVED trained components (the
    ``load_ann_index`` output) — train once, serve from the artifact;
    when given, ``m`` must match ``len(codebooks)``. ``index`` accepts
    the whole ``load_ann_index`` dict — scale and dim are then
    VALIDATED against the caller/corpus."""
    coarse, codebooks, _ = _resolve_serve_components(
        emb, vec_col, scale, index, coarse=coarse, codebooks=codebooks,
    )
    if codebooks is not None and len(codebooks) != m:
        raise ValueError(
            f"saved codebooks have m={len(codebooks)} blocks, caller "
            f"asked m={m} — a block-count mismatch mis-slices every code"
        )
    sub = _pq_sub_width(emb, m, vec_col)
    cents = (
        coarse if coarse is not None
        else kmeans_integer(
            emb, k=n_cells, n_iters=coarse_iters, scale=scale,
            id_col=id_col, vec_col=vec_col,
        )[1]
    )
    cbs = (
        codebooks if codebooks is not None
        else [c for _, _, c in build_pq_codebooks_integer(
            emb, m=m, n_codes=n_codes, n_iters=pq_iters, scale=scale,
            id_col=id_col, vec_col=vec_col,
        )]
    )
    # corpus side: coarse cell + m codes, all map-side. The cell is a
    # FRESH argmin against the FINAL centroids — the index's contract
    # (a vector files under the cell a query's probe would look in),
    # NOT the trainer's last-iteration snapshot, which is one update
    # stale and would lose recall invisibly (review r11).
    qemb = emb.select(
        F.col(id_col), quantize_global(vec_col, scale).alias("__qv")
    )
    codes = qemb.select(
        id_col,
        _arg_top_cids("__qv", cents, 1)[0].alias("cid"),
        *_pq_code_cols("__qv", cbs, sub),
    )
    # nprobe rows per query, tables attached
    pq = _probe(queries, cents, nprobe, scale, id_col, vec_col).select(
        "q_id", "cid", *_pq_dt_cols("__q_qv", cbs, sub)
    )
    cand = codes.join(F.broadcast(pq), "cid").where(
        F.col(id_col) != F.col("q_id")
    )
    return _adc_topk(cand, m, k, id_col)


def ivfpq_residual_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    coarse_iters: int = 3,
    m: int = 4,
    n_codes: int = 4,
    pq_iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BY-RESIDUAL IVF+PQ, oracle-exact — the default FAISS IVFPQ
    architecture: every vector is assigned to its nearest coarse cell
    (FINAL centroids, fresh map-side nearest-cell pick — the index's
    contract, not the trainer's last-iteration snapshot), PQ codebooks
    are trained on the RESIDUALS r = qv − centroid[cell] (residuals are
    centered and small, which is why residual PQ quantizes better than
    raw PQ), and a query's ADC tables are PER PROBED CELL (its residual
    differs in every cell). Residuals are integer differences of integer
    vectors; the trainer re-quantizes each residual slice (×scale, exact
    for integer inputs) and trains all m blocks in lockstep (``_lloyd``
    — the same codebooks as one ``kmeans_integer`` per slice), so
    training, residual computation, encode, per-cell tables, and search
    all stay bigint — one SQL hash gate for the complete production ANN
    stack.

    Scale posture: ``ivfpq_search_integer``'s, plus the residual step —
    one broadcast join against the k-row centroid table on the corpus
    side (map-side, no shuffle), and per-(query, probed-cell) tables
    (nprobe × m × n_codes longs per query, still broadcast-sized).
    Returns (q_id, id, adist); ties (adist, id) ascending."""
    spark = emb.sparkSession
    sub = _pq_sub_width(emb, m, vec_col)
    _assigned, cents = kmeans_integer(
        emb, k=n_cells, n_iters=coarse_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    cdf = spark.createDataFrame(cents, "cid int, qc array<bigint>")
    qv = emb.select(
        F.col(id_col), quantize_global(vec_col, scale).alias("__qv")
    )
    # index-side assignment against the FINAL centroids + residuals
    resid = (
        qv.withColumn("cid", _arg_top_cids("__qv", cents, 1)[0])
        .join(F.broadcast(cdf), "cid")
        .select(
            id_col, "cid",
            F.zip_with("__qv", "qc", lambda a, b: a - b).alias("__r"),
        )
    )
    cols = [f"__r{j}" for j in range(m)]
    _, blocks = _lloyd(
        resid.select(F.col(id_col), *[
            quantize_global(_pq_block_slice("__r", j, sub), scale).alias(c)
            for j, c in enumerate(cols)
        ]),
        id_col, cols, n_codes, pq_iters,
    )
    codes = resid.select(
        id_col, "cid",
        *_pq_code_cols("__r", blocks, sub, requantize=True, scale=scale),
    )
    # per probed cell: the query residual and its m ADC tables
    pq = (
        _probe(queries, cents, nprobe, scale, id_col, vec_col)
        .select(
            "q_id", "cid",
            F.zip_with("__q_qv", "qc", lambda a, b: a - b).alias("__rq"),
        )
        .select(
            "q_id", "cid",
            *_pq_dt_cols("__rq", blocks, sub, requantize=True, scale=scale),
        )
    )
    cand = codes.join(F.broadcast(pq), "cid").where(
        F.col(id_col) != F.col("q_id")
    )
    return _adc_topk(cand, m, k, id_col)


def ivfpq_refine_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine_r: int = 20,
    nprobe: int = 2,
    n_cells: int = 8,
    coarse_iters: int = 3,
    m: int = 4,
    n_codes: int = 4,
    pq_iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = True,
) -> DataFrame:
    """IVFPQ + EXACT RE-RANK — the IndexRefineFlat shape, how every
    production ANN deployment actually serves: the compressed index
    (by-residual IVFPQ by default) returns its top ``refine_r``
    candidates by summed ADC lookups, then those refine_r rows — and
    ONLY those — are re-scored by exact integer L2 against the RAW
    stored vectors, and the exact top-k wins. ADC distance carries
    quantization error (the vector is reconstructed from m codebook
    entries); the refine stage pays one exact distance per surviving
    candidate to remove it, so recall@k approaches the candidate-set
    ceiling (exact-over-candidates) at refine_r/k ≈ 4× the cost of
    none. Every number stays bigint — the whole serve path (coarse
    prune → ADC rank → exact refine) is one SQL hash gate.

    Scale posture: the ADC stage's (q_id, id) survivors are
    nq × refine_r rows — broadcast-sized by construction — so the
    re-rank joins are BROADCAST against the corpus scan (one extra
    full-column scan of ``emb``, zero shuffle; on a partitioned index
    the id-join prunes to the probed cells) plus the query rows; the
    only added exchange is the per-query exact top-k window over
    nq × refine_r rows. Ties break (edist, id) ascending. Returns
    (q_id, id, edist)."""
    search = (
        ivfpq_residual_search_integer if by_residual
        else ivfpq_search_integer
    )
    cand = search(
        emb, queries, k=refine_r, nprobe=nprobe, n_cells=n_cells,
        coarse_iters=coarse_iters, m=m, n_codes=n_codes,
        pq_iters=pq_iters, scale=scale, id_col=id_col, vec_col=vec_col,
    )
    return exact_rerank_integer(
        emb, queries, cand, k=k, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )


def exact_rerank_integer(
    emb: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    k: int = 5,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The refine stage alone, composable over ANY candidate source:
    re-score the (q_id, id) survivors of a compressed index (IVFPQ,
    IVFSQ, LSH buckets, …) by EXACT integer L2 on the raw stored
    vectors and keep the exact top-k — broadcast-sized candidates by
    contract, so both re-rank joins broadcast against the corpus scan
    (one extra full-column scan, zero shuffle) and the only added
    exchange is the per-query top-k window. Ties (edist, id) ascending.
    Returns (q_id, id, edist)."""
    cand = cand.select("q_id", id_col)
    qv = emb.select(
        F.col(id_col), quantize_global(vec_col, scale).alias("__qv")
    )
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        quantize_global(vec_col, scale).alias("__q_qv"),
    )
    scored = (
        qv.join(F.broadcast(cand), id_col)
        .join(F.broadcast(qs), "q_id")
        .select(
            "q_id", id_col,
            _int_l2("__qv", "__q_qv").alias("edist"),
        )
    )
    return _top_k(scored, "q_id", "edist", id_col, k)


def sq8_train_integer(
    emb: DataFrame,
    scale: int = 1000,
    vec_col: str = "embedding",
) -> tuple[list[int], list[int]]:
    """Train a FAISS-style 8-bit SCALAR quantizer (QT_8bit): per-dimension
    [min, max] over the globally-quantized integer corpus — the third
    production quantizer family beside IVF (cells) and PQ (subspace
    codebooks); SQ keeps per-dimension resolution where PQ shares a
    codebook across a block. Returns (vmin, vmax) as plain lists —
    driver metadata (2·dim longs), the whole trained state.

    Shape: ONE partially-aggregated scan (2·dim min/max agg columns,
    map-side combine — never a dim explode, never a shuffle of the
    corpus)."""
    dim = emb.select(F.size(vec_col).alias("n")).first()["n"]
    qv = quantize_global(vec_col, scale)
    row = emb.select(qv.alias("__qv")).agg(
        *[F.min(F.element_at("__qv", d + 1)).alias(f"lo{d}")
          for d in range(dim)],
        *[F.max(F.element_at("__qv", d + 1)).alias(f"hi{d}")
          for d in range(dim)],
    ).first()
    return ([int(row[f"lo{d}"]) for d in range(dim)],
            [int(row[f"hi{d}"]) for d in range(dim)])


def _sq8_recon_col(vec_col: str, vmin: list[int], vmax: list[int],
                   scale: int):
    """The SQ8 encode → clamp → fixed-point-reconstruct Column, shared
    verbatim by ``sq8_search_integer`` (q320) and ``ivfsq_search_integer``
    (q322): code_d = (q_d − vmin_d)·255 div span_d clamped to [0, 255]
    (span 0 → code 0 for a constant dim), recon_d = vmin_d·255 +
    code_d·span_d. Both hash gates pin this exact arithmetic, so the two
    search paths MUST stay bit-identical — hence one definition."""
    lo = F.array(*[F.lit(v).cast("long") for v in vmin])
    span = F.array(*[F.lit(hi - lo_).cast("long")
                     for lo_, hi in zip(vmin, vmax)])
    qv = quantize_global(vec_col, scale)
    codes = F.zip_with(
        F.zip_with(qv, lo, lambda a, b: a - b),
        span,
        lambda d, s: F.when(s == 0, F.lit(0).cast("long"))
        .otherwise(
            # clamped to [0, 255]: a no-op when the state was trained on
            # this corpus, the FAISS saturation rule when a SAVED state
            # meets newer vectors outside the trained range
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(255).cast("long"),
                    F.floor(d * 255 / s).cast("long"),
                ),
            )
        ),
    )
    return F.zip_with(
        F.zip_with(codes, span, lambda c, s: c * s),
        lo,
        lambda cs, b: cs + b * 255,
    )


def sq8_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state: tuple[list[int], list[int]] | None = None,
    index: dict | None = None,
) -> DataFrame:
    """Flat 8-bit scalar-quantized search (FAISS IndexScalarQuantizer),
    oracle-exact: every vector is ENCODED to one byte code per dimension
    — code_d = (q_d − vmin_d)·255 div (vmax_d − vmin_d), clamped — a
    4–8× memory cut that keeps per-dimension resolution; queries stay
    EXACT and the distance is ASYMMETRIC against the fixed-point
    reconstruction recon_d = vmin_d·255 + code_d·(vmax_d − vmin_d)
    (both sides pre-scaled ×255, so train, encode, reconstruct, and
    search are ALL bigint — no float rounding anywhere, one SQL hash
    gate). Completes the quantizer family: IVF cells (q305), PQ
    codebooks (q308), by-residual IVFPQ (q315), refine (q316), SQ
    (this).

    Scale posture: the trained state is 2·dim longs riding as literals;
    the corpus carries dim byte-range codes per row; queries broadcast
    with their ×255 exact vectors; the only shuffle is the per-query
    top-k window. Ties (sdist, id) ascending. Returns (q_id, id,
    sdist). ``state`` accepts a SAVED (vmin, vmax) pair (the
    ``sq8_train_integer`` output, e.g. loaded from JSON) — the
    saved-index contract: train once, every search job loads the 2·dim
    longs instead of rescanning the corpus. ``index`` accepts the whole
    ``load_ann_index`` dict — scale and dim are then VALIDATED against
    the caller/corpus (``_resolve_serve_components``)."""
    _, _, state = _resolve_serve_components(
        emb, vec_col, scale, index, sq_state=state,
    )
    vmin, vmax = (
        state if state is not None
        else sq8_train_integer(emb, scale=scale, vec_col=vec_col)
    )
    recon = _sq8_recon_col(vec_col, vmin, vmax, scale)
    corpus = emb.select(F.col(id_col), recon.alias("__rv"))
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(quantize_global(vec_col, scale),
                    lambda x: x * 255).alias("__q255"),
    )
    pairs = corpus.join(F.broadcast(qs), F.col(id_col) != F.col("q_id"))
    return _top_k(
        pairs.select("q_id", id_col, _int_l2("__q255", "__rv").alias("sdist")),
        "q_id", "sdist", id_col, k,
    )


def ivfsq_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    coarse_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state: tuple[list[int], list[int]] | None = None,
    coarse: list[tuple[int, list[int]]] | None = None,
    index: dict | None = None,
) -> DataFrame:
    """IVF + 8-bit SCALAR quantization (FAISS IVFScalarQuantizer) — the
    scale path of q320's flat SQ: the integer coarse quantizer PRUNES
    to nprobe/n_cells of the corpus (``ivf_search_integer``'s
    geometry), and the survivors rank by the ASYMMETRIC fixed-point SQ
    distance (exact ×255 query vs byte-code reconstruction —
    ``sq8_search_integer``'s metric). Corpus rows carry (cell id + dim
    byte codes); the candidate fraction is nprobe/n_cells, so the
    quadratic batch×corpus cost of the flat sweep becomes
    batch × corpus/n_cells·nprobe — the same prune that makes IVFPQ
    feasible at 100 TB, with SQ's per-dimension resolution instead of
    PQ's shared block codebooks. All bigint; one SQL hash gate.

    Scale posture: coarse centroids + the 2·dim SQ state are driver
    metadata (literals); index-side assignment is a fresh map-side
    argmin against the FINAL centroids (the index's contract — see
    ``ivfpq_search_integer``); probes broadcast with the exact ×255
    query vectors; one top-k window. Ties (sdist, id) ascending.
    Returns (q_id, id, sdist).

    ``state`` / ``coarse`` accept SAVED trained components (the
    ``load_ann_index`` output) — the serve-side contract: train once,
    every search job loads the 2·dim SQ longs + k×dim coarse centroids
    instead of rescanning the corpus; index-side assignment stays a
    fresh map-side argmin against whatever centroids are in force.
    ``index`` accepts the whole ``load_ann_index`` dict — scale and dim
    are then VALIDATED against the caller/corpus."""
    coarse, _, state = _resolve_serve_components(
        emb, vec_col, scale, index, coarse=coarse, sq_state=state,
    )
    cents = (
        coarse if coarse is not None
        else kmeans_integer(
            emb, k=n_cells, n_iters=coarse_iters, scale=scale,
            id_col=id_col, vec_col=vec_col,
        )[1]
    )
    vmin, vmax = (
        state if state is not None
        else sq8_train_integer(emb, scale=scale, vec_col=vec_col)
    )
    recon = _sq8_recon_col(vec_col, vmin, vmax, scale)
    corpus = emb.select(
        F.col(id_col),
        _arg_top_cids(quantize_global(vec_col, scale), cents, 1)[0]
        .alias("cid"),
        recon.alias("__rv"),
    )
    probes = _probe(queries, cents, nprobe, scale, id_col, vec_col).select(
        "q_id", "cid",
        F.transform("__q_qv", lambda x: x * 255).alias("__q255"),
    )
    cand = corpus.join(F.broadcast(probes), "cid").where(
        F.col(id_col) != F.col("q_id")
    )
    return _top_k(
        cand.select("q_id", id_col, _int_l2("__q255", "__rv").alias("sdist")),
        "q_id", "sdist", id_col, k,
    )


# --------------------------------------------------------------------- L3
# Saved-index artifact contract (the q318/q319 posture applied to ANN):
# train once on the standing corpus, ship the trained state as a small
# JSON artifact, and every search job LOADS it instead of rescanning the
# corpus. FAISS ships the same pieces in its index files — coarse
# centroids (IVF), per-block PQ codebooks, per-dim SQ [min, max] — and
# all of them are driver metadata here (k×dim + m×k×dim/m + 2×dim
# longs: a few KB at ANY corpus size), so plain JSON is the right tool,
# not a Spark write.

ANN_INDEX_FORMAT = "rdkafka-streams-spark-ann-v1"


def _loaded_dim(
    coarse: list[tuple[int, list[int]]] | None = None,
    codebooks: list[list[tuple[int, list[int]]]] | None = None,
    sq_state: tuple[list[int], list[int]] | None = None,
) -> int | None:
    """The embedding dimensionality a set of trained components was
    built for — coarse centroids and SQ state carry it directly, PQ
    codebooks carry it as m · block-width. Raises if the components
    disagree among themselves (a mixed-up artifact)."""
    dims: dict[str, int] = {}
    if coarse:
        dims["coarse"] = len(coarse[0][1])
    if sq_state is not None:
        dims["sq"] = len(sq_state[0])
    if codebooks:
        dims["pq"] = sum(len(block[0][1]) for block in codebooks)
    if not dims:
        return None
    if len(set(dims.values())) != 1:
        raise ValueError(
            f"trained components disagree on dimensionality: {dims} — "
            "these pieces were not trained together"
        )
    return next(iter(dims.values()))


def _resolve_serve_components(
    vectors: DataFrame,
    vec_col: str,
    scale: int,
    index: dict | None,
    *,
    coarse: list[tuple[int, list[int]]] | None = None,
    codebooks: list[list[tuple[int, list[int]]]] | None = None,
    sq_state: tuple[list[int], list[int]] | None = None,
) -> tuple:
    """Serve-side guard for the integer ANN family: resolve trained
    components from a whole ``load_ann_index`` dict and FAIL LOUDLY on
    the two silent-wrong-neighbor hazards (review r13): (a) the caller
    searching at a different ``scale`` than the artifact was trained
    under (the r11 requantize bug — a loaded index MUST search at its
    trained scale), and (b) loaded components whose dimensionality does
    not match the embedding column's width (an index trained on
    different-dim vectors quantizes garbage, not neighbors). The dim
    probe reads ONE row and only runs when loaded components are in
    play — the train-fresh path pays nothing. Returns
    (coarse, codebooks, sq_state) with index-supplied defaults."""
    if index is not None:
        if int(index["scale"]) != int(scale):
            raise ValueError(
                f"index was trained at scale={index['scale']} but the "
                f"search asked scale={scale} — thread idx['scale'] "
                "through (searching a loaded index at a different "
                "scale returns silently wrong neighbors)"
            )
        coarse = coarse if coarse is not None else index.get("coarse")
        codebooks = (codebooks if codebooks is not None
                     else index.get("pq"))
        sq_state = sq_state if sq_state is not None else index.get("sq")
    want = _loaded_dim(coarse, codebooks, sq_state)
    if want is not None:
        row = vectors.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError("no vectors (empty corpus or NULL embedding?)")
        have = len(row[0])
        if have != want:
            raise ValueError(
                f"loaded index components are {want}-dimensional but "
                f"column {vec_col!r} holds {have}-dim vectors — wrong "
                "index for this corpus"
            )
    return coarse, codebooks, sq_state


def save_ann_index(
    path: str,
    *,
    scale: int,
    coarse_centroids: list[tuple[int, list[int]]] | None = None,
    pq_codebooks: list[list[tuple[int, list[int]]]] | None = None,
    sq_state: tuple[list[int], list[int]] | None = None,
    by_residual: bool = False,
) -> None:
    """Persist trained ANN state as ``<path>/ann_index.json``.

    Any subset of the three trained components may be present —
    ``coarse_centroids`` (``kmeans_integer`` output — IVF),
    ``pq_codebooks`` (``build_pq_codebooks_integer``'s per-block
    centroids), ``sq_state`` (``sq8_train_integer``'s (vmin, vmax)) —
    plus the global quantization ``scale`` they were all trained under
    (a loaded index MUST search at its trained scale; threading the
    caller's scale past the artifact's was exactly the r11 requantize
    bug). The trained DIMENSIONALITY is derived from the components and
    stamped into the artifact, so a load against a different-width
    embedding column fails loudly (``_resolve_serve_components``)
    instead of quantizing garbage. All values are bigints by
    construction, so the JSON round-trip is exact."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    doc: dict = {"format": ANN_INDEX_FORMAT, "scale": int(scale),
                 "by_residual": bool(by_residual)}
    dim = _loaded_dim(coarse_centroids, pq_codebooks, sq_state)
    if dim is not None:
        doc["dim"] = int(dim)
    if coarse_centroids is not None:
        doc["coarse"] = [[int(cid), [int(v) for v in qc]]
                         for cid, qc in coarse_centroids]
    if pq_codebooks is not None:
        doc["pq"] = [
            [[int(cid), [int(v) for v in qc]] for cid, qc in block]
            for block in pq_codebooks
        ]
    if sq_state is not None:
        vmin, vmax = sq_state
        doc["sq"] = {"vmin": [int(v) for v in vmin],
                     "vmax": [int(v) for v in vmax]}
    with open(os.path.join(path, "ann_index.json"), "w",
              encoding="utf-8") as f:
        json.dump(doc, f, sort_keys=True)


def load_ann_index(path: str) -> dict:
    """Load ``save_ann_index``'s artifact back, validated loudly:
    returns ``{"scale", "by_residual", "coarse", "pq", "sq"}`` where
    ``coarse`` is ``[(cid, [longs])]`` (or None), ``pq`` is the
    per-block list of the same shape (or None), and ``sq`` is
    ``(vmin, vmax)`` (or None) — each directly consumable by the
    ``coarse=``/``codebooks=``/``state=`` serve-side parameters of the
    integer search family. A truncated or hand-edited artifact fails at
    load (format tag, dim consistency), not as silently wrong
    neighbors."""
    import json
    import os

    with open(os.path.join(path, "ann_index.json"), encoding="utf-8") as f:
        doc = json.load(f)
    if doc.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(
            f"not an ANN index artifact (format={doc.get('format')!r}, "
            f"expect {ANN_INDEX_FORMAT!r})"
        )
    coarse = None
    if "coarse" in doc:
        coarse = [(int(cid), [int(v) for v in qc])
                  for cid, qc in doc["coarse"]]
        dims = {len(qc) for _, qc in coarse}
        if len(dims) != 1:
            raise ValueError(f"coarse centroid dims inconsistent: {dims}")
    pq = None
    if "pq" in doc:
        pq = [[(int(cid), [int(v) for v in qc]) for cid, qc in block]
              for block in doc["pq"]]
    sq = None
    if "sq" in doc:
        vmin = [int(v) for v in doc["sq"]["vmin"]]
        vmax = [int(v) for v in doc["sq"]["vmax"]]
        if len(vmin) != len(vmax):
            raise ValueError(
                f"sq state dims differ: {len(vmin)} vs {len(vmax)}"
            )
        sq = (vmin, vmax)
    dim = _loaded_dim(coarse, pq, sq)
    stamped = doc.get("dim")
    if stamped is not None and dim is not None and int(stamped) != dim:
        raise ValueError(
            f"artifact stamps dim={stamped} but its components are "
            f"{dim}-dimensional — corrupt or hand-edited index"
        )
    return {"scale": int(doc["scale"]),
            "dim": int(stamped) if stamped is not None else dim,
            "by_residual": bool(doc.get("by_residual", False)),
            "coarse": coarse, "pq": pq, "sq": sq}


def build_ivf_corpus(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> list[tuple[int, list[int]]]:
    """INDEX-BUILD DAY for partitioned IVF serving: train the integer
    coarse quantizer, write the assigned corpus (id, qv, cid) as parquet
    PARTITIONED BY cell id, and return the centroids (to persist via
    ``save_ann_index``). The cell directories ARE the inverted lists —
    at serve time a probe reads nprobe/n_cells of the directories
    instead of scanning the corpus (`PartitionFilters` on cid, pinned
    by the plan test). ``keep_cols`` carries attribute columns (labels,
    timestamps, source tags) into the layout beside the vector — the
    storage contract FILTERED vector search needs: a metadata predicate
    then pushes down to the same files the probe prunes
    (``ivf_search_partitioned(predicate=...)``). Overwrite mode:
    rebuilds land atomically under the same root, the layout every
    100 TB vector store uses."""
    assigned, cents = kmeans_integer(
        emb, k=n_cells, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    if keep_cols:
        assigned = assigned.join(
            emb.select(id_col, *keep_cols), id_col
        )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)
    return cents


def ivf_search_partitioned(
    spark,
    corpus_path: str,
    coarse: list[tuple[int, list[int]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: dict | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """SERVE DAY against the ``build_ivf_corpus`` layout: probe each
    query's ``nprobe`` nearest cells from the LOADED centroids (the
    ``load_ann_index`` coarse list — no trainer run), restrict the
    corpus scan to exactly the probed cell PARTITIONS (the probed cell
    set is nq × nprobe ints — driver metadata — so the IN-filter is a
    literal and the scan carries static PartitionFilters), and rank
    survivors by exact integer L2. Bit-identical to
    ``ivf_search_integer`` on the same training run (same probes, same
    candidates, same tie rule) — the q331 gate — while reading only
    nprobe/n_cells of the data from disk. Pass ``index`` (the whole
    ``load_ann_index`` dict) to have scale and dim VALIDATED against
    the caller/queries — a forgotten ``idx['scale']`` raises instead of
    returning silently wrong neighbors.

    ``predicate`` (a SQL expression over the layout's ``keep_cols``
    attributes, e.g. ``"label % 3 = 0"``) turns this into FILTERED
    vector search — the metadata-constrained ANN every production
    vector store serves. It is applied as a PRE-FILTER on the candidate
    scan (the correct semantics: the top-k is over matching vectors,
    not a post-hoc filter of the unconstrained top-k, which silently
    under-returns), and because the attributes live in the same parquet
    rows, Catalyst pushes it to the reader (PushedFilters beside the
    cid PartitionFilters — row groups whose label stats exclude the
    predicate never decompress; plan-test-pinned)."""
    coarse, _, _ = _resolve_serve_components(
        queries, vec_col, scale, index, coarse=coarse,
    )
    if coarse is None:
        raise ValueError(
            "partitioned serving needs trained coarse centroids — pass "
            "coarse= or index= (load_ann_index output with 'coarse')"
        )
    probes = (
        _probe(queries, coarse, nprobe, scale, id_col, vec_col)
        .select("q_id", "__q_qv", "cid")
        .persist()
    )
    try:
        cells = sorted(
            r["cid"] for r in probes.select("cid").distinct().collect()
        )
        corpus = spark.read.parquet(corpus_path).where(
            F.col("cid").isin(cells)  # literal -> static partition pruning
        )
        if predicate is not None:
            corpus = corpus.where(F.expr(predicate))  # -> PushedFilters
        cand = corpus.join(F.broadcast(probes), "cid").where(
            F.col(id_col) != F.col("q_id")
        )
        out = _top_k(
            cand.withColumn("__d", _int_l2("qv", "__q_qv")),
            "q_id", "__d", id_col, k,
        ).select("q_id", F.col(id_col), F.col("__d").alias("dist_sq"))
        # materialize before releasing the probe cache (it feeds the
        # broadcast twice: the cell collect above and the candidate join)
        out = out.localCheckpoint(eager=True)
    finally:
        probes.unpersist()
    return out


# --------------------------------------------------------------- L3 (graph)
# Graph-based ANN — the HNSW/NSG/DiskANN family, re-expressed as
# deterministic DataFrame algebra: a navigable small-world graph built
# once (blocked top-R out-edges + star bridges through an entry hub),
# then a fixed-width, fixed-hop BEAM SEARCH that walks it. Everything is
# integer L2 with (dist, id) tie-breaks, so build AND search are one SQL
# hash gate — the property the float/heap-based reference
# implementations cannot offer.


def nsw_graph_integer(
    emb: DataFrame,
    r: int = 8,
    n_assign: int = 2,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Deterministic navigable graph (the NSW construction, integer-
    exact): block the corpus by its ``n_assign`` NEAREST IVF CELLS
    (multi-assignment — single-cell blocking severs true-neighbor edges
    that straddle a cell boundary and caps recall; measured 60% → 96%
    recall@5 on the fixture at identical degree), take each node's ``r``
    nearest integer-L2 out-edges among nodes sharing any of its cells
    (ties to the smaller id — no float heap, no insertion-order
    dependence like true HNSW), and add STAR BRIDGES hub ↔ cell
    representative (min-id node per rank-1 cell, hub = the global
    min-id node) so every cell is provably reachable — the role HNSW's
    upper layers play. Returns (src, dst).

    Scale posture: the pair stage is blocked geometry — Σ(n_assign·
    |cell|)² pairs, never N² — with the cells trained by
    ``kmeans_integer`` and assigned map-side by ``_arg_top_cids``
    (centroids as literals); one top-r window per source node
    (``_pair_top_r``); bridges are
    2·(n_cells−1) rows from a groupBy + a broadcast 1-row hub. Degree
    is r+O(1), so the edge set is ~r·N rows."""
    cents = (
        coarse if coarse is not None
        else kmeans_integer(
            emb, k=n_cells, n_iters=n_iters, scale=scale,
            id_col=id_col, vec_col=vec_col,
        )[1]
    )
    base = _nsw_base(
        emb, cents, n_assign=n_assign, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    local = _nsw_local_edges(base, cents, r=r)
    reps = _nsw_reps(base)
    return local.unionByName(_nsw_bridges(reps))


def _nsw_base(
    emb: DataFrame,
    cents: list[tuple[int, list[int]]],
    n_assign: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared assignment frame (src, __v, __cids) for the NSW build:
    computed ONCE (one projection over a ``_spread`` corpus scan) and
    consumed by both the local-edge pair stage and the cell-rep
    bridge stage — previously each branch re-derived it from its own
    scan, so the n_assign-of-k centroid sort fold ran three times over
    the corpus (and serialized on one core for a single-row-group
    parquet input)."""
    if not cents:
        raise ValueError("no centroids (empty corpus?)")
    # advice-r15: the pair stage's unrolled distance takes its dim from
    # cents[0] (saving a per-build first() probe of the corpus), so a
    # caller-supplied ragged/short ``coarse`` would silently truncate
    # pair distances. Ragged is checkable for free; a uniform-but-wrong
    # dim against the corpus is the caller's save_ann_index/
    # load_ann_index contract (dim validated there at serve time).
    dims = {len(qc) for _cid, qc in cents}
    if len(dims) != 1:
        raise ValueError(
            f"ragged coarse centroids (dims {sorted(dims)}) — every "
            "centroid must have the corpus vector width"
        )
    return _spread(emb.select(
        F.col(id_col).alias("src"),
        quantize_global(vec_col, scale).alias("__v"),
    ), min_bytes=FOLD_MIN_BYTES).withColumn(
        "__cids", _arg_top_cids("__v", cents, n_assign)
    )


def _nsw_local_edges(
    base: DataFrame,
    cents: list[tuple[int, list[int]]],
    r: int,
) -> DataFrame:
    """The LOCAL half of ``nsw_graph_integer``: top-``r`` integer-L2
    out-edges among nodes sharing any assigned cell (dense_rank over the
    blocked pair stage, duplicates collapsed). Takes the shared
    ``_nsw_base`` frame (src, __v, __cids). Returns (src, dst) —
    bridges are a separate union so the incremental path can re-rank
    local candidates without bridge edges polluting the top-r slots.

    ``explode_outer`` (not ``explode``): the optimizer infers a
    ``size(__cids) > 0`` filter below a non-outer Generate, which
    re-evaluates the whole n_assign-of-k centroid sort fold a second
    time per row (the JVM twin of the UDF-duplication trap, guide
    §4.4). ``__cids`` is always length n_assign by construction, so
    outer semantics are identical — the inferred filter just
    disappears and assignment is computed once per row."""
    asg = base.select("src", "__v", F.explode_outer("__cids").alias("__cid"))
    asg2 = asg.select(
        F.col("src").alias("dst"),
        F.col("__v").alias("__w"),
        "__cid",
    )
    # PAIR-STAGE PLAN (the build's hot loop — measured at sf0.1): the
    # cell key has only n_cells distinct values and the pre-join shuffle
    # is bytes-tiny, so AQE coalesces it to ONE task and the whole
    # quadratic projection serializes — salt the key (operators/skew.py's
    # recipe) and repartition BOTH sides by (cell, salt) with an EXPLICIT
    # partition count (user-specified shuffles are exempt from AQE
    # coalescing), so the distance stage runs wide at any input size.
    n_salts = 16
    p = max(n_salts * 4,
            base.sparkSession.sparkContext.defaultParallelism * 2)
    la = asg.withColumn(
        "__salt", F.pmod(F.xxhash64("src"), F.lit(n_salts)).cast("int")
    ).repartition(p, "__cid", "__salt")
    lb = asg2.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int")) \
        .repartition(p, "__cid", "__salt")
    pairs = la.join(lb, ["__cid", "__salt"]).where(
        F.col("src") != F.col("dst")
    )
    return _pair_top_r(pairs, cents, r)


def _pair_top_r(
    pairs: DataFrame, cents: list[tuple[int, list[int]]], r: int
) -> DataFrame:
    """Each src's top-``r`` distinct dsts by integer L2 over (src, __v,
    dst, __w) candidate pairs — the NSW pair stage of the build, the
    insert and the delete. The distance is the UNROLLED dim-term sum, not
    the aggregate/zip_with fold: higher-order functions allocate the
    zipped array per pair and stay outside whole-stage codegen (15.7 s
    vs 2.9 s over the same 2M pairs at sf0.1, identical sums). dim comes
    from the trained centroids (each IS a quantized corpus vector), so
    no first() job probes the corpus. A pair sharing BOTH cells appears
    twice with an IDENTICAL (d, dst): dense_rank gives the copies one
    rank (they cannot eat top-r slots), so the dedup runs over the
    <= 2·r·N survivors, not the corpus-sized pair set. Returns (src,
    dst)."""
    d = F.expr(" + ".join(
        f"(__v[{i}] - __w[{i}]) * (__v[{i}] - __w[{i}])"
        for i in range(len(cents[0][1]))
    )).cast("long")
    return (
        _top_k(pairs.select("src", "dst", d.alias("__d")),
               "src", "__d", "dst", r, dense=True)
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )


def _nsw_reps(base: DataFrame) -> DataFrame:
    """Cell representatives for the star bridges: min-id node per RANK-1
    cell, over the shared ``_nsw_base`` frame. Returns (__c1, rep) —
    metadata-sized (≤ n_cells rows)."""
    first = base.select(
        "src", F.element_at("__cids", 1).alias("__c1")
    )
    return first.groupBy("__c1").agg(F.min("src").alias("rep"))


def _nsw_bridges(reps: DataFrame) -> DataFrame:
    """Star bridges hub ↔ cell representative from a (__c1, rep) frame:
    hub = min rep (== the global min id, since every node lives in some
    rank-1 cell). Returns (src, dst) — 2·(n_cells−1) rows."""
    hub = reps.agg(F.min("rep").alias("hub"))
    bridges = (
        reps.crossJoin(F.broadcast(hub))  # n_cells × 1 rows
        .where(F.col("rep") != F.col("hub"))
    )
    return bridges.select(
        F.col("hub").alias("src"), F.col("rep").alias("dst")
    ).unionByName(
        bridges.select(F.col("rep").alias("src"), F.col("hub").alias("dst"))
    )


def beam_search_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    beam: int = 16,
    hops: int = 6,
    r: int = 8,
    n_assign: int = 2,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    edges: DataFrame | None = None,
    entry: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Greedy best-first graph-ANN search with a FIXED beam width and a
    FIXED hop count — the deterministic core of HNSW/DiskANN serving:
    start every query at the hub (the global min-id node) — or, when
    ``entry`` is given (columns (q_id, node) — e.g. an upper layer's
    per-query result), seed each query's beam with ITS OWN entry nodes
    instead (the HNSW layer-descent contract) — and each hop
    expand the beam's out-edges, score candidates by integer L2 to the
    query, and keep the ``beam`` best by (dist, id). After ``hops``
    rounds the top-``k`` non-self beam entries are the answer. Fixed
    width + fixed hops + total tie order make the walk a pure function
    of the graph — expressible as ``hops`` unrolled SQL stages, which is
    how the oracle checks it (the q221 BFS pattern applied to distance
    frontiers).

    Scale posture: the adjacency rides WITH the destination vector
    attached (one corpus join at build, localCheckpoint-truncated) —
    the DiskANN node layout, where a node's record holds its vector and
    its neighbor list; the beam state is nq × beam rows (broadcast-sized
    by construction), so every hop is ONE adjacency scan + a broadcast
    join + a top-``beam`` window over nq·beam·(r+1) rows — no
    corpus-sized shuffle anywhere after the build. At 100 TB the
    adjacency is bucketed by ``src`` so the per-hop scan prunes to the
    frontier's buckets. Returns (q_id, <id_col>, dist_sq).

    ONE-ACTION WALK (r16): the adjacency carries a SELF-LOOP row per
    node (src=dst=node, its own vector), so each hop's candidate set
    ``beam ∪ neighbors(beam)`` is the single join adj ⨝ beam — the beam
    frame is referenced ONCE per hop, the unrolled plan grows LINEARLY
    in hops, and the per-hop ``localCheckpoint`` barrier (a full SQL
    execution + eager materialization per hop — the dominant serve-day
    cost at ~0.35 s of driver overhead per job, r15 profile) disappears:
    the whole walk is one lazy plan executed by the caller's single
    action. Candidate multisets are row-for-row identical to the
    explicit union: the self-loop contributes exactly the carried beam
    row (dist is a pure integer function of (query, node), so
    recomputing it through the self-loop's vector equals the carried
    value bit-for-bit), and a beam node with no out-edges still
    survives via its self-loop — the property the union's preserved
    side provided."""
    if edges is None:
        edges = nsw_graph_integer(
            emb, r=r, n_assign=n_assign, n_cells=n_cells,
            n_iters=n_iters, scale=scale, id_col=id_col, vec_col=vec_col,
        )
    corpus = emb.select(
        F.col(id_col).alias("__node"),
        quantize_global(vec_col, scale).alias("__nv"),
    )
    adj = (
        edges.join(corpus, edges["dst"] == F.col("__node"))
        .select("src", "dst", F.col("__nv").alias("__dv"))
        .unionByName(corpus.select(
            F.col("__node").alias("src"),
            F.col("__node").alias("dst"),
            F.col("__nv").alias("__dv"),
        ))
        .localCheckpoint()
    )
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        quantize_global(vec_col, scale).alias("__q_qv"),
    )
    if entry is None:
        hub = corpus.orderBy("__node").limit(1)
        bm = qs.crossJoin(F.broadcast(hub)).select(
            "q_id", "__q_qv",
            F.col("__node").alias("node"),
            _int_l2("__q_qv", "__nv").alias("dist"),
        )
    else:
        bm = (
            qs.join(entry.select("q_id", "node"), "q_id")
            .join(corpus, F.col("node") == F.col("__node"))
            .select(
                "q_id", "__q_qv", "node",
                _int_l2("__q_qv", "__nv").alias("dist"),
            )
        )
    for _ in range(hops):
        # candidates = adj ⨝ beam = beam ∪ neighbors(beam) via the
        # self-loops (see docstring); dist is a pure function of
        # (query, node), so duplicate (q_id, node) rows are identical
        # row-for-row and the dedup cannot pick a "wrong" one.
        # dense_rank FIRST (duplicates share a rank over the total
        # (dist, node) order, so they cannot eat beam slots), dedup
        # after — on <= nq·beam·(r+1) rows.
        cand = (
            adj.join(
                F.broadcast(
                    bm.select(
                        "q_id", "__q_qv", F.col("node").alias("__bn")
                    )
                ),
                F.col("src") == F.col("__bn"),
            )
            .select(
                "q_id", "__q_qv",
                F.col("dst").alias("node"),
                _int_l2("__q_qv", "__dv").alias("dist"),
            )
        )
        bm = _top_k(
            cand, "q_id", "dist", "node", beam, dense=True
        ).dropDuplicates(["q_id", "node"])
    if exclude_self:
        bm = bm.where(F.col("node") != F.col("q_id"))
    return _top_k(bm, "q_id", "dist", "node", k).select(
        "q_id", F.col("node").alias(id_col), F.col("dist").alias("dist_sq")
    )


def hierarchical_beam_search(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    beam: int = 16,
    hops: int = 4,
    up_mod: int = 4,
    up_beam: int = 8,
    up_hops: int = 3,
    r: int = 8,
    n_assign: int = 2,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TWO-LAYER graph-ANN search — the HNSW layer-descent contract made
    deterministic: an UPPER layer holds the deterministic 1/``up_mod``
    id-sample of the corpus with its own navigable graph (built against
    the SAME coarse centroids — the quantizer trains once, both layers
    block on it); each query first walks the upper layer from its hub
    (greedy, ``up_beam``/``up_hops``, self-inclusion allowed — a query
    vector that lives in the upper layer IS its own best entry), and the
    single best upper node then SEEDS the full-graph beam search
    (``entry=``) in place of the global hub. The descent buys the hub's
    long-range role with ~hops·|upper| work instead of extra full-layer
    hops: this serves k=5 at (3 upper + 4 lower) hops where the flat
    q335 walk needs 6 full-layer hops.

    Every stage keeps the fixed-width/fixed-hop/total-tie-order purity,
    so the two-layer walk is still a pure function of the corpus — one
    SQL hash gate, both layers unrolled."""
    cents = kmeans_integer(
        emb, k=n_cells, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )[1]
    upper = emb.where(F.col(id_col) % up_mod == 0)
    up_edges = nsw_graph_integer(
        upper, r=r, n_assign=n_assign, n_cells=n_cells, n_iters=n_iters,
        scale=scale, id_col=id_col, vec_col=vec_col, coarse=cents,
    )
    # no checkpoint: the entry frame is referenced ONCE (the lower
    # walk's seed join), and the r16 one-action walk keeps plan growth
    # linear — the whole two-layer descent is one lazy plan, executed
    # by the caller's single action (upper/lower adjacencies are the
    # only materialized intermediates, localCheckpoint-truncated).
    entries = beam_search_integer(
        upper, queries, k=1, beam=up_beam, hops=up_hops, scale=scale,
        id_col=id_col, vec_col=vec_col, edges=up_edges, exclude_self=False,
    ).select("q_id", F.col(id_col).alias("node"))
    low_edges = nsw_graph_integer(
        emb, r=r, n_assign=n_assign, n_cells=n_cells, n_iters=n_iters,
        scale=scale, id_col=id_col, vec_col=vec_col, coarse=cents,
    )
    return beam_search_integer(
        emb, queries, k=k, beam=beam, hops=hops, scale=scale,
        id_col=id_col, vec_col=vec_col, edges=low_edges, entry=entries,
    )


def exact_knn_integer(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact integer-L2 top-k over the whole corpus (self excluded) —
    the ground truth every approximate family in this module audits
    against (recall@k = |approx ∩ this| / k). Brute force by design:
    queries broadcast, one scan, one top-k window; use it on a query
    SAMPLE, not as a serving path. Returns (q_id, <id_col>, dist_sq);
    ties (dist, id) ascending."""
    corpus = emb.select(
        F.col(id_col), quantize_global(vec_col, scale).alias("__cv")
    )
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        quantize_global(vec_col, scale).alias("__q_qv"),
    )
    return _top_k(
        corpus.join(F.broadcast(qs), F.col(id_col) != F.col("q_id"))
        .withColumn("__d", _int_l2("__cv", "__q_qv")),
        "q_id", "__d", id_col, k,
    ).select("q_id", F.col(id_col), F.col("__d").alias("dist_sq"))


def build_nsw_corpus(
    emb: DataFrame,
    path: str,
    r: int = 8,
    n_assign: int = 2,
    n_cells: int = 8,
    n_iters: int = 3,
    n_buckets: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[tuple[int, list[int]]] | None = None,
) -> int:
    """INDEX-BUILD DAY for partitioned graph-ANN serving (q331's
    layout contract applied to the NSW family): build the navigable
    graph, attach each edge's destination vector (the DiskANN node
    record — vector + neighbor list live together), and write the
    adjacency parquet PARTITIONED BY ``bucket = src % n_buckets``.
    The bucket directories make the per-hop scan PRUNABLE: a beam
    frontier is nq×beam node ids — driver metadata — so serve day
    reads only the frontier's buckets (static PartitionFilters) and
    row-group min/max on ``src`` skips within them. Returns the hub
    node id (the search entry point — persist it alongside, e.g. in
    the ``save_ann_index`` artifact's coarse centroids + your own
    manifest). Overwrite mode: rebuilds land atomically under the
    same root."""
    edges = nsw_graph_integer(
        emb, r=r, n_assign=n_assign, n_cells=n_cells, n_iters=n_iters,
        scale=scale, id_col=id_col, vec_col=vec_col, coarse=coarse,
    )
    corpus = emb.select(
        F.col(id_col).alias("__node"),
        quantize_global(vec_col, scale).alias("dv"),
    )
    adj = edges.join(corpus, edges["dst"] == F.col("__node")).select(
        "src", "dst", "dv",
        (F.col("src") % n_buckets).cast("int").alias("bucket"),
    )
    adj.write.mode("overwrite").partitionBy("bucket").parquet(path)
    hub = emb.agg(F.min(id_col)).first()[0]
    if hub is None:
        raise ValueError("no vectors (empty corpus?)")
    return int(hub)


def _long_matrix(col, what: str, dim: int | None = None):
    """An Arrow ``list<bigint>`` column as an (n, dim) int64 matrix.
    A NULL, ragged or NULL-holding vector raises ValueError: Spark's
    ``_int_l2`` would give it a NULL distance, which no beam ranks."""
    import numpy as np
    import pyarrow.compute as pc

    lens = pc.list_value_length(col)
    flat = pc.list_flatten(col)
    if dim is None:
        dim = lens[0].as_py() if len(col) and lens[0].is_valid else 0
    if col.null_count or flat.null_count or pc.any(
        pc.not_equal(lens, dim)
    ).as_py():
        raise ValueError(f"{what} vectors must all be {dim} non-NULL longs")
    return np.asarray(flat, dtype=np.int64).reshape(len(col), dim)


def _check_l2_range(a, b) -> None:
    """Raise ArithmeticError when an integer L2 between a row of ``a``
    and a row of ``b`` could leave int64: numpy, like non-ANSI Spark,
    would wrap it silently."""
    if not a.size or not b.size:
        return
    m = max(int(a.max()), -int(a.min())) + max(int(b.max()), -int(b.min()))
    if a.shape[1] * m * m > 2**63 - 1:
        raise ArithmeticError(
            f"squared distance may overflow int64 ({a.shape[1]} dims, "
            f"|component| <= {m})"
        )


def _group_rank(q):
    """Position of each row within its run of equal keys in the sorted
    key array ``q``."""
    import numpy as np

    return np.arange(len(q)) - np.searchsorted(q, q, "left")


def _top_beam(q, node, dist, width: int):
    """Per query index ``q``: the ``width`` best distinct nodes in the
    total (dist, node) order, returned sorted by (q, dist, node). A node
    reached twice keeps its first copy (dist is a pure function of
    (query, node), so the copies agree)."""
    import numpy as np

    o = np.lexsort((node, dist, q))
    q, node, dist = q[o], node[o], dist[o]
    _, first = np.unique(np.stack([q, node], axis=1), axis=0,
                         return_index=True)
    keep = np.sort(first)
    q, node, dist = q[keep], node[keep], dist[keep]
    keep = _group_rank(q) < width
    return q[keep], node[keep], dist[keep]


def beam_search_partitioned(
    spark,
    corpus_path: str,
    hub: int,
    hub_vec: list[int] | None,
    queries: DataFrame,
    k: int = 5,
    beam: int = 16,
    hops: int = 6,
    n_buckets: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SERVE DAY against the ``build_nsw_corpus`` layout: walk the
    on-disk graph with the same fixed-beam fixed-hop best-first search
    as ``beam_search_integer`` — bit-identical answers on the same
    build (the q342 gate) — but each hop reads ONLY the frontier's
    adjacency: the beam is nq×beam node ids (driver metadata), so the
    hop's scan filters ``bucket IN (...)`` (literal → static partition
    pruning) and ``src IN (...)`` (literal → row-group min/max skip).
    The corpus is never scanned whole after the build; with a frontier
    touching b of n_buckets buckets, a hop reads b/n_buckets of the
    index from disk.

    ONE SPARK JOB PER HOP: the walk already holds the frontier on the
    driver, so it holds the frontier's adjacency rows too. Each hop's
    only job is the pruned scan, collected as Arrow; the driver scores
    the candidates (integer L2 in numpy int64, the ``_int_l2`` value
    bit-for-bit) and keeps each query's top ``beam`` distinct nodes in
    the total (dist, node) order. A call runs at most hops + 3 jobs:
    the query read, the index open (parquet schema inference), the
    ``hub_vec=None`` lookup and one scan per hop. Driver memory per hop
    is bounded by nq·beam·out-degree: the scan returns at most that
    many adjacency rows of (dim + 2) longs, and scoring holds one
    dim-long difference row per (query, candidate) pair. A request of
    16 queries at beam 16 over 2,000 64-dim vectors scans at most
    about 1,950 rows (1 MB) a hop. For large query batches use
    ``beam_search_integer``, the lazy one-plan walk that keeps the beam
    on the executors.

    Queries are keyed by id: duplicate id rows collapse to one (they
    must carry the same vector), NULL ids answer nothing, and a NULL or
    wrong-length vector raises ValueError. ArithmeticError is raised
    when a squared distance could overflow int64. Returns (q_id,
    <id_col>, dist_sq), all bigint, as a local DataFrame.

    ``hub_vec`` is the hub's quantized vector (dim longs — artifact
    metadata); pass None to read it from the index, where it rides as
    ``dv`` on the hub's in-edges (bridges guarantee at least one). That
    lookup filters ``dst == hub``, which no partition prunes: it scans
    every bucket."""
    import numpy as np
    import pyarrow as pa

    def result(q, node, dist) -> DataFrame:
        # an Arrow table under spark.sql.execution.arrow.localRelationThreshold
        # becomes a LocalRelation: the caller's action starts no job
        return spark.createDataFrame(pa.table(
            [pa.array(c, pa.int64()) for c in (q, node, dist)],
            names=["q_id", id_col, "dist_sq"],
        ))

    qt = (
        queries.select(
            F.col(id_col).cast("long").alias("q_id"),
            quantize_global(vec_col, scale).alias("qv"),
        )
        .where(F.col("q_id").isNotNull())
        .toArrow()
    )
    qmat = _long_matrix(qt["qv"], "query")
    qids, first, inv = np.unique(
        np.asarray(qt["q_id"], dtype=np.int64),
        return_index=True, return_inverse=True,
    )
    if (qmat != qmat[first][inv]).any():
        raise ValueError("a query id carries two different vectors")
    qmat = qmat[first]
    if not len(qids):
        return result([], [], [])
    index = spark.read.parquet(corpus_path)
    if hub_vec is None:
        row = (
            index.where(F.col("dst") == hub)
            .select("dv").limit(1).first()
        )
        if row is None:
            raise ValueError(
                f"hub {hub} has no in-edges — pass hub_vec explicitly"
            )
        hub_vec = list(row[0])
    hv = np.asarray([hub_vec], dtype=np.int64)
    if hv.shape[1] != qmat.shape[1]:
        raise ValueError("hub_vec and query vectors differ in length")
    _check_l2_range(qmat, hv)
    # the beam: (query index, node, dist) rows sorted by (q, dist, node)
    bq = np.arange(len(qids))
    bn = np.full(len(qids), int(hub), dtype=np.int64)
    diff = qmat - hv
    bd = (diff * diff).sum(axis=1)
    for _ in range(hops):
        frontier = np.unique(bn).tolist()
        buckets = sorted({n % n_buckets for n in frontier})
        # IN lists as SQL text: one py4j call, not one per literal
        adj = (
            index.where(F.expr(f"bucket IN ({', '.join(map(str, buckets))})"))
            .where(F.expr(f"src IN ({', '.join(f'{n}L' for n in frontier)})"))
            .select("src", "dst", "dv")
            .toArrow()
        )
        src = np.asarray(adj["src"], dtype=np.int64)
        o = np.argsort(src, kind="stable")
        src = src[o]
        dst = np.asarray(adj["dst"], dtype=np.int64)[o]
        dv = _long_matrix(adj["dv"], "index", qmat.shape[1])[o]
        _check_l2_range(qmat, dv)
        # every beam row × its node's out-edges
        lo = np.searchsorted(src, bn, "left")
        cnt = np.searchsorted(src, bn, "right") - lo
        edge = np.arange(cnt.sum()) + np.repeat(lo - (np.cumsum(cnt) - cnt),
                                                cnt)
        cq = np.repeat(bq, cnt)
        diff = dv[edge] - qmat[cq]
        bq, bn, bd = _top_beam(
            np.concatenate([bq, cq]),
            np.concatenate([bn, dst[edge]]),
            np.concatenate([bd, (diff * diff).sum(axis=1)]),
            beam,
        )
    keep = bn != qids[bq]
    bq, bn, bd = bq[keep], bn[keep], bd[keep]
    keep = _group_rank(bq) < k
    return result(qids[bq[keep]], bn[keep], bd[keep])


def build_binary_corpus(
    emb: DataFrame,
    path: str,
    n_planes: int = 32,
    dim: int = 64,
    n_buckets: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INDEX-BUILD DAY for two-tier binary serving: write the corpus
    with the ``n_planes``-bit sign code AS A COLUMN beside the
    quantized vector, parquet-partitioned by ``bucket = id %
    n_buckets`` (the q342 layout discipline). Parquet is columnar, so
    the binary pre-filter reads ONLY (id, code) — ~4 bytes of payload
    per row out of the same files — while the exact re-rank reads the
    vector column for just the shortlist's buckets (PartitionFilters)
    and rows (id IN → row-group min/max skip). One layout serves both
    tiers; no second copy of the corpus."""
    planes = hyperplanes(n_planes, dim)
    (
        emb.select(
            F.col(id_col),
            quantize_global(vec_col, scale).alias("qv"),
            hyperplane_signature(vec_col, planes).alias("code"),
            (F.col(id_col) % n_buckets).cast("int").alias("bucket"),
        )
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    )


def hamming_refine_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    n_planes: int = 32,
    dim: int = 64,
    n_buckets: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SERVE DAY for the two-tier binary → exact stack against the
    ``build_binary_corpus`` layout — bit-identical to the in-memory
    ``hamming_topk`` + ``exact_rerank_integer`` composition (the q353
    gate) with the production I/O profile:

    1. the PRE-FILTER scans only the (id, code) columns of the whole
       corpus (Parquet column pruning — 4 code bytes per row, 1/64 of
       a float32 vector), XOR+popcount against the broadcast query
       codes, keeps the Hamming top-``shortlist`` per query;
    2. the RE-RANK collects the shortlist ids (nq × shortlist ints —
       driver metadata, the q331/q342 posture), re-reads ONLY their
       buckets (static PartitionFilters) and rows (id IN → row-group
       min/max skip) for the vector column, and orders the exact
       integer-L2 top-``k`` with (edist, id) ties.

    The float-width column is touched for ~shortlist rows per query;
    everything else reads the 4-byte tier. Returns (q_id, id, edist)."""
    planes = hyperplanes(n_planes, dim)
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        hyperplane_signature(vec_col, planes).alias("q_code"),
        quantize_global(vec_col, scale).alias("q_qv"),
    ).localCheckpoint(eager=True)
    codes = spark.read.parquet(path).select(id_col, "code")
    short = (
        _top_k(
            codes.join(F.broadcast(qs.select("q_id", "q_code")),
                       F.col(id_col) != F.col("q_id"))
            .withColumn("dist",
                        F.expr("bit_count(code ^ q_code)").cast("int")),
            "q_id", "dist", id_col, shortlist,
        )
        .select("q_id", id_col)
        .localCheckpoint(eager=True)  # nq × shortlist rows; read twice
    )
    ids = sorted(r[id_col] for r in short.select(id_col).distinct().collect())
    buckets = sorted({int(i) % n_buckets for i in ids})
    cand = (
        spark.read.parquet(path)
        .where(F.col("bucket").isin(buckets))   # partition pruning
        .where(F.col(id_col).isin([int(i) for i in ids]))  # row-group skip
        .select(id_col, "qv")
    )
    out = _top_k(
        cand.join(F.broadcast(short), id_col)
        .join(F.broadcast(qs.select("q_id", "q_qv")), "q_id")
        .withColumn("edist", _int_l2("qv", "q_qv")),
        "q_id", "edist", id_col, k,
    ).select("q_id", F.col(id_col), F.col("edist"))
    return out.localCheckpoint(eager=True)


def build_nsw_insert_layout(
    emb: DataFrame,
    path: str,
    cents: list[tuple[int, list[int]]],
    r: int = 8,
    n_assign: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INDEX-BUILD DAY for the INCREMENTAL graph-ANN posture
    (``nsw_insert_integer``) — the cell-keyed twin of
    ``build_nsw_corpus``'s bucket layout, organized so an insert batch
    touches only ITS cells:

    - ``<path>/nodes``: (node, qv) replicated once per ASSIGNED cell,
      parquet-partitioned by ``cell`` — the pruned read that serves both
      "which standing nodes does the delta pair with" and "which
      standing srcs must re-rank" (they are the same set: every node in
      a touched cell, and only those).
    - ``<path>/edges``: the LOCAL adjacency (src, dst, dv, cells) with
      the destination vector attached (the DiskANN node record),
      replicated once per SRC-assigned cell (``pos`` marks the copy;
      ``pos = 0`` is canonical), partitioned by ``cell`` — so an
      affected src's FULL edge list is readable from any one of its
      touched cells with static PartitionFilters, and the unaffected
      remainder filters on the carried ``cells`` array without a join.
      Bridges are NOT stored here (they are derived metadata and would
      pollute the local top-r re-rank).
    - ``<path>/reps``: (__c1, rep) — the rank-1 cell representatives,
      ≤ n_cells rows, from which bridges and the hub re-derive after
      any insert.

    The quantizer (``cents``) trains ONCE on the standing corpus — the
    q343 contract; inserts must pass the SAME centroids."""
    shared = _nsw_base(
        emb, cents, n_assign=n_assign, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    base = shared.select(
        F.col("src").alias("node"),
        F.col("__v").alias("qv"),
        F.col("__cids").alias("cells"),
    )
    # each copy carries the node's FULL ordered cell list (cells[0] is the
    # rank-1 cell) — the delete path re-derives reps and candidate cells
    # from it without a second assignment pass
    nodes = base.select(
        "node", "qv", "cells", F.explode("cells").alias("cell")
    )
    nodes.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/nodes"
    )
    local = _nsw_local_edges(shared, cents, r=r)
    src_cells = base.select(F.col("node").alias("src"), "cells")
    dst_vecs = base.select(
        F.col("node").alias("__dn"), F.col("qv").alias("dv")
    )
    adj = (
        local.join(src_cells, "src")
        .join(dst_vecs, F.col("dst") == F.col("__dn"))
        .select(
            "src", "dst", "dv", "cells",
            F.posexplode("cells").alias("pos", "cell"),
        )
    )
    adj.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/edges"
    )
    reps = _nsw_reps(shared)
    reps.write.mode("overwrite").parquet(f"{path}/reps")


def nsw_insert_integer(
    spark,
    path: str,
    cents: list[tuple[int, list[int]]],
    delta: DataFrame,
    r: int = 8,
    n_assign: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL GRAPH INSERT — the last cell of the incremental
    matrix (MinHash, ExactSubstr, decontamination, fingerprints,
    vectors, PCA — and now the navigable graph): merge a delta batch
    into a ``build_nsw_insert_layout`` standing index and return the
    merged (src, dst) edge set, PROVABLY IDENTICAL to
    ``nsw_graph_integer(standing ∪ delta, coarse=cents)`` — the
    merge ≡ retrain posture applied to the graph. Identity argument:

    - Assignments are per-node functions of the FIXED centroids, so no
      standing node changes cells when the delta lands.
    - A delta src's rebuild candidates are exactly the union members of
      its cells — read here as the delta's TOUCHED-cell node partitions
      (static PartitionFilters; the touched set is ≤ n_cells driver
      literals) plus the delta itself.
    - A standing src re-ranks iff a delta node shares one of its cells;
      those srcs are exactly the members of touched cells. dense_rank
      over (its SAVED top-r survivors ∪ its delta candidates) equals
      the rebuild's dense_rank over all union candidates: any dropped
      base candidate had > r distinct values below it among SURVIVORS
      alone, so it can neither re-enter nor shift a survivor's rank.
    - Bridges re-derive from reps merged as per-cell MIN(standing rep,
      delta min-id) — MIN is associative, so merged reps ≡ union reps.

    The standing CORPUS is never read outside the touched cells (plan
    test pins the PartitionFilters); the unaffected edge remainder is a
    column filter on the canonical copies — no join, no corpus access.
    At 100 TB the production write-back is dynamic partition overwrite
    of the touched cell directories + append of the delta's; here the
    merged frame is returned for the gate to walk."""
    d, touched = _nsw_assign_batch(
        delta, cents, n_assign, scale, id_col, vec_col
    )
    if not touched:  # empty delta: the standing index IS the merge
        return nsw_layout_edges(spark, path)
    new_edges, reps = _nsw_insert_new_edges(spark, path, cents, d, touched, r)
    return _nsw_merged(spark, path, touched, new_edges, reps)


def _nsw_assign_batch(
    batch: DataFrame,
    cents: list[tuple[int, list[int]]],
    n_assign: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, list[int]]:
    """An insert or tombstone batch assigned against the layout's FIXED
    centroids: (node, qv, cells), checkpointed once — batch-sized, and
    every maintenance step reads it several times — plus its touched
    cell ids, ≤ n_cells driver literals (the static PartitionFilters of
    every layout read)."""
    d = (
        batch.select(
            F.col(id_col).alias("node"),
            quantize_global(vec_col, scale).alias("qv"),
        )
        .withColumn("cells", _arg_top_cids("qv", cents, n_assign))
        .localCheckpoint(eager=True)
    )
    touched = sorted(
        r0["c"] for r0 in
        d.select(F.explode("cells").alias("c")).distinct().collect()
    )
    return d, touched


def _nsw_merged(
    spark, path: str, touched: list[int], edges: DataFrame, reps: DataFrame
) -> DataFrame:
    """The merged graph of an insert or delete: the unaffected remainder
    — canonical copies whose src shares NO touched cell, a column filter
    on the carried ``cells`` array (no join, no corpus access) — plus the
    re-ranked ``edges`` and the bridges of the merged ``reps``."""
    untouched = ~F.arrays_overlap(
        F.col("cells"), F.array(*[F.lit(int(c)) for c in touched])
    )
    return (
        spark.read.parquet(f"{path}/edges")
        .where((F.col("pos") == 0) & untouched)
        .select("src", "dst")
        .unionByName(edges)
        .unionByName(_nsw_bridges(reps))
    )


def nsw_layout_edges(spark, path: str) -> DataFrame:
    """The standing graph as stored in a ``build_nsw_insert_layout``
    root: the canonical (pos = 0) local-edge copies plus the bridges
    re-derived from the saved reps — exactly what ``nsw_graph_integer``
    returned at build day."""
    return (
        spark.read.parquet(f"{path}/edges")
        .where(F.col("pos") == 0)
        .select("src", "dst")
        .unionByName(_nsw_bridges(spark.read.parquet(f"{path}/reps")))
    )


def _nsw_insert_new_edges(
    spark,
    path: str,
    cents: list[tuple[int, list[int]]],
    d: DataFrame,
    touched: list[int],
    r: int,
) -> tuple[DataFrame, DataFrame]:
    """The insert's re-rank core, shared by the gate path
    (``nsw_insert_integer``) and the write-back path
    (``nsw_insert_writeback``): given the checkpointed assigned delta
    ``d`` (node, qv, cells) and its touched cell list, return
    (new_edges, merged_reps) where ``new_edges`` holds the (src, dst)
    top-r sets of every DELTA src and every AFFECTED standing src, and
    ``merged_reps`` is the post-insert (__c1, rep) table. Only the
    touched cells' partitions of the standing layout are read."""
    dx = d.select("node", "qv", F.explode("cells").alias("cell"))
    bnodes = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("cell").isin(touched))  # static partition pruning
    )
    # delta srcs: candidates = (standing ∪ delta) members of their cells
    cand_dst = bnodes.select(
        F.col("node").alias("dst"), F.col("qv").alias("__w"), "cell"
    ).unionByName(
        dx.select(F.col("node").alias("dst"), F.col("qv").alias("__w"),
                  "cell")
    )
    delta_edges = _pair_top_r(
        dx.select(F.col("node").alias("src"), F.col("qv").alias("__v"),
                  "cell")
        .join(cand_dst, "cell")
        .where(F.col("src") != F.col("dst")),
        cents, r,
    )

    # affected standing srcs: saved survivors ∪ delta cell-mates
    aedges = (
        spark.read.parquet(f"{path}/edges")
        .where(F.col("cell").isin(touched))  # static partition pruning
        .select("src", "dst", "dv")
        .dropDuplicates(["src", "dst"])  # both-cells-touched srcs: 2 copies
    )
    svecs = bnodes.select(
        F.col("node").alias("src"), F.col("qv").alias("__v")
    ).dropDuplicates(["src"])
    old_cand = aedges.join(svecs, "src").select(
        "src", "__v", "dst", F.col("dv").alias("__w")
    )
    new_cand = (
        bnodes.select(F.col("node").alias("src"),
                      F.col("qv").alias("__v"), "cell")
        .join(
            dx.select(F.col("node").alias("dst"),
                      F.col("qv").alias("__w"), "cell"),
            "cell",
        )
        .select("src", "__v", "dst", "__w")
    )
    relinked = _pair_top_r(old_cand.unionByName(new_cand), cents, r)

    # merged reps: per-cell MIN(standing rep, delta min-id)
    old_reps = spark.read.parquet(f"{path}/reps")
    delta_reps = (
        d.select(F.element_at("cells", 1).alias("__c1"),
                 F.col("node").alias("rep"))
        .groupBy("__c1").agg(F.min("rep").alias("rep"))
    )
    reps = (
        old_reps.unionByName(delta_reps)
        .groupBy("__c1").agg(F.min("rep").alias("rep"))
    )
    return relinked.unionByName(delta_edges), reps


def nsw_insert_writeback(
    spark,
    path: str,
    cents: list[tuple[int, list[int]]],
    delta: DataFrame,
    r: int = 8,
    n_assign: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """PRODUCTION WRITE-BACK for the graph insert: apply
    ``nsw_insert_integer``'s merge to the ``build_nsw_insert_layout``
    root IN PLACE via Spark's DYNAMIC PARTITION OVERWRITE — after this
    returns, ``nsw_layout_edges(path)`` IS the merged graph (identical
    to a full rebuild on standing ∪ delta) and a later batch inserts
    against the updated standing state: the daily-ingest loop, closed.

    What gets rewritten — and nothing else (unit test pins untouched
    partition files byte-stable):

    - ``nodes``: the TOUCHED cell partitions, rewritten as old rows ∪
      the delta's (partition-pruned read-modify-write);
    - ``edges``: every cell partition holding rows of an affected or
      delta src (touched cells plus affected srcs' other cells — a
      cell-list closure, still ≤ n_cells literals), rewritten as the
      other srcs' preserved rows ∪ the re-ranked/new rows;
    - ``reps``: the ≤ n_cells-row metadata table, overwritten.

    Every frame is eagerly localCheckpointed before its write because
    the write targets the same path the plan reads (Spark forbids
    read-overwrite cycles); the checkpointed working set is bounded by
    the touched partitions, i.e. proportional to the batch's cell
    footprint, never the corpus. Returns the rewritten edge cell ids."""
    d, touched = _nsw_assign_batch(
        delta, cents, n_assign, scale, id_col, vec_col
    )
    if not touched:
        return []
    new_edges, reps = _nsw_insert_new_edges(spark, path, cents, d, touched, r)
    bnodes = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("cell").isin(touched))
    )
    # (node → cells, node → qv) lookups over affected ∪ delta — exactly
    # the srcs whose edge rows are being replaced
    cells_lookup = (
        bnodes.select("node", "cells").dropDuplicates(["node"])
        .unionByName(d.select("node", "cells"))
    )
    vec_lookup = (
        bnodes.select("node", "qv").dropDuplicates(["node"])
        .unionByName(d.select("node", "qv"))
    )
    new_rows = _nsw_edge_rows(new_edges, vec_lookup, cells_lookup) \
        .localCheckpoint(eager=True)
    rewrite_cells = sorted(
        r0["cell"] for r0 in new_rows.select("cell").distinct().collect()
    )
    nodes = bnodes.select("node", "qv", "cells", "cell").unionByName(
        d.select("node", "qv", "cells", F.explode("cells").alias("cell"))
    )
    _nsw_write_back(
        spark, path, nodes, new_rows,
        cells_lookup.select(F.col("node").alias("src")), rewrite_cells, reps,
    )
    return [int(c) for c in rewrite_cells]


def _nsw_edge_rows(
    edges: DataFrame, vecs: DataFrame, cells: DataFrame
) -> DataFrame:
    """(src, dst) edges as edge-layout rows (src, dst, dv, cells, pos,
    cell): the dst vector from ``vecs`` (node, qv), the src's cell list
    from ``cells`` (node, cells), one copy per src cell."""
    return (
        edges
        .join(vecs.select(F.col("node").alias("dst"),
                          F.col("qv").alias("dv")), "dst")
        .join(cells.select(F.col("node").alias("src"), "cells"), "src")
        .select("src", "dst", "dv", "cells",
                F.posexplode("cells").alias("pos", "cell"))
    )


def _nsw_write_back(
    spark,
    path: str,
    nodes: DataFrame,
    new_rows: DataFrame,
    replaced: DataFrame,
    rewrite_cells: list[int],
    reps: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Apply a maintenance step to a ``build_nsw_insert_layout`` root in
    place: ``nodes`` replaces the node partitions it holds; the edge
    partitions ``rewrite_cells`` become their rows whose src is not in
    ``replaced`` (src) plus ``new_rows``; ``reps`` overwrites the reps
    table. Node and edge writes are DYNAMIC partition overwrites, so
    every other partition stays byte-stable. All three frames are
    checkpointed before the first write, because each reads the root it
    overwrites (Spark forbids read-overwrite cycles); the checkpointed
    set is bounded by the rewritten partitions. Returns the (nodes,
    edges) frames as written."""
    preserved = (
        spark.read.parquet(f"{path}/edges")
        .where(F.col("cell").isin(rewrite_cells))  # pruned read
        .join(replaced, "src", "left_anti")
        .select("src", "dst", "dv", "cells", "pos", "cell")
    )
    nodes, edges, reps = (
        f.localCheckpoint(eager=True)
        for f in (nodes, preserved.unionByName(new_rows), reps)
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        for name, f in (("nodes", nodes), ("edges", edges)):
            f.write.mode("overwrite").partitionBy("cell").parquet(
                f"{path}/{name}"
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    reps.write.mode("overwrite").parquet(f"{path}/reps")
    return nodes, edges


def nsw_delete_integer(
    spark,
    path: str,
    cents: list[tuple[int, list[int]]],
    deleted: DataFrame,
    r: int = 8,
    n_assign: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL GRAPH DELETE — the other half of index maintenance
    (``nsw_insert_integer`` adds, this removes): drop a tombstone batch
    from a ``build_nsw_insert_layout`` standing index and return the
    merged (src, dst) edge set, PROVABLY IDENTICAL to
    ``nsw_graph_integer(standing ∖ deleted, coarse=cents)``. Identity
    argument (symmetric to the insert's):

    - a standing src's edge set changes iff some candidate of its was
      deleted; candidates are cell-mates, so the AFFECTED srcs are
      exactly the surviving members of the deleted nodes' cells
      (``touched`` — ≤ n_cells driver literals, PartitionFilters);
    - a deletion can PROMOTE a candidate that was never in the saved
      top-r, so affected srcs re-rank from their cells' full surviving
      membership — read from the nodes layout pruned to the affected
      srcs' OWN cells (``cand_cells``, a superset of touched but still
      a literal cell list; the carried ``cells`` array supplies it
      without a second assignment pass) — NOT from saved survivors;
    - unaffected srcs share no cell with any deleted node, so none of
      their edges point into the tombstones — their canonical copies
      pass through on a column filter;
    - a touched cell's rep re-derives from its surviving rank-1 members
      (``cells[0]``); an untouched cell's membership didn't change and
      its saved rep cannot have been deleted (a deleted node's rank-1
      cell is touched by construction), so saved reps pass through.

    The tombstone batch is checkpointed once (batch-sized) and joined,
    never collected — a large purge (GDPR sweep) stays distributed.
    Production write-back = dynamic partition overwrite of the touched
    cell directories; here the merged frame is returned for the gate."""
    d, touched = _nsw_assign_batch(
        deleted, cents, n_assign, scale, id_col, vec_col
    )
    if not touched:  # empty tombstone batch: the standing index stands
        return nsw_layout_edges(spark, path)
    relinked, reps, _affected, _cand_cells = _nsw_delete_parts(
        spark, path, cents, d, touched, r=r,
    )
    return _nsw_merged(spark, path, touched, relinked, reps)


def _nsw_delete_parts(
    spark,
    path: str,
    cents: list[tuple[int, list[int]]],
    d: DataFrame,
    touched: list[int],
    r: int,
) -> tuple[DataFrame, DataFrame, DataFrame, list[int]]:
    """The delete's re-rank core, shared by the gate path
    (``nsw_delete_integer``) and the write-back path
    (``nsw_delete_writeback``): given the checkpointed assigned
    tombstones ``d`` and their touched cell list, return (relinked,
    merged_reps, affected, cand_cells) — the affected srcs' post-delete
    top-r edges, the post-delete reps table, the affected-node frame
    (node, qv, cells — eagerly checkpointed), and the candidate cell
    closure the re-rank read."""
    tomb = d.select("node")
    bnodes_t = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("cell").isin(touched))  # static partition pruning
    )
    # affected srcs = surviving members of touched cells, deduped across
    # the (≤ n_assign) copies; their cells arrays give the candidate cells
    affected = (
        bnodes_t.select("node", "qv", "cells")
        .dropDuplicates(["node"])
        .join(tomb, "node", "left_anti")
        .localCheckpoint(eager=True)  # consumed 3×: cells collect + pairs
    )
    cand_cells = sorted(
        r0["c"] for r0 in
        affected.select(F.explode("cells").alias("c")).distinct().collect()
    )
    members = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("cell").isin(cand_cells))  # static partition pruning
        .select("node", "qv", "cell")
        .join(tomb, "node", "left_anti")
    )
    pairs = (
        affected.select(
            F.col("node").alias("src"), F.col("qv").alias("__v"),
            F.explode("cells").alias("cell"),
        )
        .join(
            members.select(F.col("node").alias("dst"),
                           F.col("qv").alias("__w"), "cell"),
            "cell",
        )
        .where(F.col("src") != F.col("dst"))
    )
    relinked = _pair_top_r(pairs, cents, r)
    touched_reps = (
        bnodes_t.where(F.element_at("cells", 1) == F.col("cell"))
        .join(tomb, "node", "left_anti")
        .groupBy(F.col("cell").alias("__c1"))
        .agg(F.min("node").alias("rep"))
    )
    kept_reps = (
        spark.read.parquet(f"{path}/reps")
        .where(~F.col("__c1").isin(touched))
    )
    return (relinked, kept_reps.unionByName(touched_reps), affected,
            cand_cells)


def nsw_delete_writeback(
    spark,
    path: str,
    cents: list[tuple[int, list[int]]],
    deleted: DataFrame,
    r: int = 8,
    n_assign: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """PRODUCTION WRITE-BACK for the graph delete — the purge applied
    to the layout in place (the GDPR posture end to end): touched
    nodes partitions rewrite WITHOUT the tombstoned rows; the edge
    partitions in the rewrite closure (affected ∪ tombstoned srcs'
    cells) rewrite as preserved-others ∪ the re-ranked rows; reps
    overwrite. Dynamic partition overwrite leaves everything outside
    the closure byte-stable (unit-pinned). A rewrite partition whose
    content empties entirely (every member tombstoned) is REMOVED from
    disk — dynamic overwrite only replaces partitions present in the
    new data, so an emptied cell would otherwise serve stale rows; on
    a real deployment a table format's delete (or an explicit FS
    delete, as here) closes that gap. After this returns,
    ``nsw_layout_edges(path)`` is the post-delete graph — identical to
    a full rebuild on the survivors. Returns the rewritten edge cells."""
    import shutil as _shutil

    d, touched = _nsw_assign_batch(
        deleted, cents, n_assign, scale, id_col, vec_col
    )
    if not touched:
        return []
    relinked, reps, affected, cand_cells = _nsw_delete_parts(
        spark, path, cents, d, touched, r=r,
    )
    rewrite_cells = sorted(set(cand_cells) | set(touched))
    # dst vectors for the re-ranked rows: dsts are survivors of the
    # candidate cell closure — the same pruned read the re-rank used
    vec_lookup = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("cell").isin(cand_cells))
        .select("node", "qv").dropDuplicates(["node"])
    )
    replaced = (
        affected.select(F.col("node").alias("src"))
        .unionByName(d.select(F.col("node").alias("src")))
    )
    surviving_nodes = (
        spark.read.parquet(f"{path}/nodes")
        .where(F.col("cell").isin(touched))
        .join(d.select("node"), "node", "left_anti")
        .select("node", "qv", "cells", "cell")
    )
    nodes, edges = _nsw_write_back(
        spark, path, surviving_nodes,
        _nsw_edge_rows(relinked, vec_lookup, affected),
        replaced, rewrite_cells, reps,
    )
    # emptied partitions: present in the rewrite set but absent from the
    # written data — remove, or stale rows would survive the purge
    for cells, sub, frame in ((rewrite_cells, "edges", edges),
                              (touched, "nodes", nodes)):
        written = {r0["cell"] for r0 in
                   frame.select("cell").distinct().collect()}
        for c in set(cells) - written:
            _shutil.rmtree(f"{path}/{sub}/cell={c}", ignore_errors=True)
    return [int(c) for c in rewrite_cells]


def embedding_neardup_incremental(
    spark,
    corpus_path: str,
    coarse: list[tuple[int, list[int]]],
    delta: DataFrame,
    num: int = 3,
    den: int = 10,
    nprobe: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DELTA-vs-CORPUS embedding near-dup — the DAILY-INGEST posture of
    q62's cosine near-dup (the vector twin of
    ``minhash_near_dups_incremental``): the standing corpus is the
    ``build_ivf_corpus`` layout (assigned vectors parquet-partitioned
    by cell) + its saved centroids; an arriving increment assigns each
    delta vector to its ``nprobe`` nearest cells MAP-SIDE
    (``_arg_top_cids`` over the literal centroids — no join, no
    shuffle), and compares against ONLY those cells' members. The cell
    set of the whole batch is ≤ n_cells ints — driver metadata — so
    the corpus scan carries a literal IN filter (static
    PartitionFilters); the base is never rescanned, let alone re-paired.
    Multi-probe is the boundary-straddle hedge (the q335 multi-assign
    lesson): a near-dup across a cell boundary is caught when either
    side's probe reaches the other's cell.

    The match rule is INTEGER-EXACT cosine: cos ≥ num/den ⟺ dot > 0 ∧
    den²·dot² ≥ num²·‖a‖²·‖b‖² — all bigint products of quantized
    vectors, one SQL hash gate, no float epsilon. Overflow bound:
    den²·(D·Q²)² must fit int64 — at scale Q=1000, D=64 dims, den=10
    the largest term is ~4·10¹⁷, safely inside. Returns
    (delta_id, base_id, dot, na2, nb2) — the raw integers, so the
    caller (and the oracle) can re-derive any cosine form exactly."""
    row = delta.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError("no delta vectors (empty increment?)")
    dim = len(row[0])
    qd = delta.select(
        F.col(id_col).alias("delta_id"),
        quantize_global(vec_col, scale).alias("__dv"),
    ).withColumn("__cids", _arg_top_cids("__dv", coarse, nprobe))
    probes = qd.select(
        "delta_id", "__dv", F.explode("__cids").alias("cid")
    ).localCheckpoint()  # feeds the cell collect AND the candidate join
    cells = sorted(r["cid"] for r in probes.select("cid").distinct().collect())
    base = spark.read.parquet(corpus_path).where(
        F.col("cid").isin(cells)  # literal -> static partition pruning
    ).select("cid", F.col("vec_id").alias("base_id"), F.col("qv").alias("__bv"))
    dot = F.expr(" + ".join(
        f"__dv[{i}] * __bv[{i}]" for i in range(dim))).cast("long")
    na2 = F.expr(" + ".join(
        f"__dv[{i}] * __dv[{i}]" for i in range(dim))).cast("long")
    nb2 = F.expr(" + ".join(
        f"__bv[{i}] * __bv[{i}]" for i in range(dim))).cast("long")
    cand = (
        base.join(F.broadcast(probes), "cid")
        .select(
            "delta_id", "base_id",
            dot.alias("dot"), na2.alias("na2"), nb2.alias("nb2"),
        )
        .dropDuplicates(["delta_id", "base_id"])  # shared-both-cells pairs
    )
    out = cand.where(
        (F.col("dot") > 0)
        & (F.lit(den * den) * F.col("dot") * F.col("dot")
           >= F.lit(num * num) * F.col("na2") * F.col("nb2"))
    )
    out = out.localCheckpoint(eager=True)
    probes.unpersist()
    return out
