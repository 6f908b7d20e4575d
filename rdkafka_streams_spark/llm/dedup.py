"""Deduplication operators for training-data pipelines (SURVEY.md §2.6 L1/L2).

Four strategies, cheapest-first — the order a real 100 TB pipeline applies
them:

1. exact (sha256 of text; hash-groupBy — one shuffle of 32-byte keys),
2. MinHash + LSH banding (near-dup candidates without O(n²) comparison),
3. SimHash (bit-signature near-dup, hamming-space),
4. token-set Jaccard (exact verification of candidate pairs, blocked).

The MinHash here is deliberately *engine-independent*: hash_s(token) =
md5("{s}:" + token), signature = per-seed min of the hex strings. md5 hex is
uniformly distributed, so string-min is a valid min-hash, and any SQL engine
reproduces it exactly — which makes the whole LSH pipeline oracle-checkable
(unlike MLlib's MinHashLSH whose random coefficients are engine-private).

Scale notes: every step is expressed as explode → groupBy/join on bounded
keys. The banding join keys are (band_index, band_value) — high cardinality,
well distributed; skew only arises from degenerate corpora (empty docs) and
is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# scale-adaptive parallelism guard: one-row-group scans serialize the
# per-row token/window hashing onto one core; no-op at production scale
# (see operators/spread.py)
from rdkafka_streams_spark.operators.spread import spread as _spread

# Shared constants — the SQL oracle generators in queries/llm.py use the same
# values, keeping Spark and oracle in lockstep.
N_HASHES = 8
N_BANDS = 4
# LSH buckets larger than this are skipped: a band value shared by thousands
# of docs means boilerplate/degenerate content, and emitting its pairs is
# quadratic — the standard production cap that keeps LSH subquadratic on
# adversarial corpora (observed: the fixture's token-soup makes ~all docs
# collide → 9.4M pairs at sf0.1 without the cap).
MAX_BUCKET = 50


def tokens_distinct(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, tok) pairs, one row per distinct whitespace token per doc.

    No ``spread`` here (r15 A/B): the explode and downstream seed-hash
    mins are whole-stage codegen — a single-task pass at small scale is
    already cheaper than the exchange the guard would insert (measured
    q51 1.00 → 1.07 with it)."""
    return docs.select(
        id_col, F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok")
    )


def exact_dedup_stats(docs: DataFrame, group_col: str = "lang", text_col: str = "text") -> DataFrame:
    """Per-group doc counts vs distinct-content counts (L1)."""
    h = F.sha2(F.col(text_col), 256)
    return docs.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id doc per exact text hash (deterministic survivor)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    return docs.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def _seed_hash(seed: int) -> F.Column:
    return F.md5(F.concat(F.lit(f"{seed}:"), F.col("tok")))


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, h0..h{n-1}) — one groupBy computes every signature column.

    The md5s are computed per (doc, token) pair inside whole-stage codegen —
    pure CPU, no extra shuffle. (A distinct-vocab + join-back variant was
    measured and rejected: it trades codegen-cheap hashing for two more
    shuffles of the pair table, a loss at every scale.)
    """
    toks = tokens_distinct(docs, id_col, text_col)
    return toks.groupBy(id_col).agg(
        *[F.min(_seed_hash(s)).alias(f"h{s}") for s in range(n_hashes)]
    )


def _bands(sig: DataFrame, n_hashes: int, n_bands: int, id_col: str) -> DataFrame:
    """(id, bi, bv) band rows. Single-pass banding: explode an array of
    (bi, bv) structs instead of a union of n_bands selects — the union form
    scans/recomputes ``sig`` once per band, which at 100 TB is n_bands
    redundant passes over the corpus."""
    rows = n_hashes // n_bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.concat(*[F.col(f"h{b * rows + i}") for i in range(rows)]).alias("bv"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))


def lsh_candidate_pairs(
    sig: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    id_col: str = "doc_id",
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Band the signatures and self-join per band → distinct candidate pairs.

    Join key (band_index, band_value) means only docs agreeing on a full band
    ever meet — the LSH guarantee that makes near-dup detection sub-quadratic.
    Buckets larger than ``max_bucket`` are dropped before the join (see
    MAX_BUCKET) so one degenerate band value can never go quadratic.
    """
    bands = _bands(sig, n_hashes, n_bands, id_col)
    # One shuffle builds the buckets (groupBy collect_list), then in-bucket
    # pairs come from a double explode — no bucket-size window pass, no
    # self-join shuffle. The max_bucket cap bounds every collected array (and
    # so executor memory + pair quadratic blowup) regardless of corpus skew.
    buckets = (
        bands.groupBy("bi", "bv")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    return (
        buckets.select(F.col("ids"), F.explode("ids").alias("id1"))
        .select("id1", F.explode("ids").alias("id2"))
        .where(F.col("id1") < F.col("id2"))
        .distinct()
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs with estimated Jaccard ≥ threshold.

    sim_est = fraction of agreeing signature positions (the standard MinHash
    estimator — exact multiples of 1/n_hashes, so threshold comparisons are
    float-safe)."""
    # The signature table feeds three consumers (banding + both sides of the
    # estimator join); without persist each one recomputes the full
    # tokenize→explode→min-hash aggregation over the corpus. Signatures are
    # n_docs × n_hashes digests — tiny relative to the corpus — so
    # MEMORY_AND_DISK is the right trade at any scale. LIFETIME: the
    # returned (lazy) frame reads through this cache, so the CALLER owns
    # the release — `out.unpersist()` is not possible here without
    # materializing a corpus-sized result; long-lived sessions should
    # consume the result and then `spark.catalog.clearCache()` or keep a
    # handle via minhash_signatures() themselves.
    sig = minhash_signatures(docs, n_hashes, id_col, text_col).persist()
    pairs = lsh_candidate_pairs(sig, n_hashes, n_bands, id_col)
    s1 = sig.select(F.col(id_col).alias("id1"), *[F.col(f"h{s}").alias(f"a{s}") for s in range(n_hashes)])
    s2 = sig.select(F.col(id_col).alias("id2"), *[F.col(f"h{s}").alias(f"b{s}") for s in range(n_hashes)])
    agree = sum((F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(n_hashes))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", (agree / float(n_hashes)).alias("sim_est"))
        .where(F.col("sim_est") >= threshold)
    )


def minhash_index(
    base: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """The STANDING LSH index of a corpus — (signatures, capped band
    buckets) — the two tables a production deployment computes ONCE,
    writes to parquet, and probes with every daily increment
    (``minhash_near_dups_incremental``'s ``index`` argument). The
    ``max_bucket`` cap is applied here, at build time: it is a property
    of the index, not of any one probe."""
    sig_b = minhash_signatures(base, n_hashes, id_col, text_col)
    buckets = (
        _bands(sig_b, n_hashes, n_bands, id_col)
        .groupBy("bi", "bv")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .where(F.size("ids") <= max_bucket)
    )
    return sig_b, buckets


def minhash_near_dups_incremental(
    base: DataFrame | None,
    delta: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Delta-vs-corpus near-dup probe — the DAILY-INGEST shape of MinHash
    dedup: a 100 TB pipeline never re-pairs the whole corpus when a day's
    increment arrives; it probes the increment against the standing LSH
    index. Buckets are built (and ``max_bucket``-capped) on the BASE side
    only — the cap is an index-build property, applied once however many
    deltas probe it — and each delta doc joins its band values against
    those buckets, so the candidate count is O(|delta| × bucket), never
    O(|corpus|²) and never |delta|×|delta| (within-delta pairs are the
    NEXT increment's base-side problem, by design). Returns
    (delta_id, base_id, sim_est) with the same agreeing-positions
    estimator as ``minhash_near_dups``. Signatures persist for their
    multiple consumers (same caller-owned lifetime note as there); at a
    real 100 TB deployment the base signature/bucket tables are computed
    once and SAVED — pass them back via ``index`` (the
    ``minhash_index`` pair, e.g. read from parquet) and the base corpus
    is never rescanned; ``base`` may then be None."""
    if index is not None:
        sig_b, buckets = index
    else:
        if base is None:
            raise ValueError(
                "minhash_near_dups_incremental needs either the base "
                "corpus or a prebuilt (signatures, buckets) index"
            )
        sig_b, buckets = minhash_index(
            base, n_hashes, n_bands, id_col, text_col, max_bucket
        )
        sig_b = sig_b.persist()
    sig_d = minhash_signatures(delta, n_hashes, id_col, text_col).persist()
    cand = (
        _bands(sig_d, n_hashes, n_bands, id_col)
        .withColumnRenamed(id_col, "delta_id")
        .join(buckets, ["bi", "bv"])
        .select("delta_id", F.explode("ids").alias("base_id"))
        .distinct()
    )
    sd = sig_d.select(F.col(id_col).alias("delta_id"),
                      *[F.col(f"h{s}").alias(f"a{s}") for s in range(n_hashes)])
    sb = sig_b.select(F.col(id_col).alias("base_id"),
                      *[F.col(f"h{s}").alias(f"b{s}") for s in range(n_hashes)])
    agree = sum((F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
                for s in range(n_hashes))
    return (
        cand.join(sd, "delta_id")
        .join(sb, "base_id")
        .select("delta_id", "base_id",
                (agree / float(n_hashes)).alias("sim_est"))
        .where(F.col("sim_est") >= threshold)
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    block_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard for pairs within a blocking key (L2 exact
    verifier). The block column bounds the self-join; at 100 TB the block
    would be the LSH candidate set, not a metadata column."""
    tok = docs.select(
        id_col, block_col, F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok")
    )
    return _jaccard_from_elements(tok, threshold, block_col, id_col)


def token_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct token n-gram array (word shingles) — pure higher-order
    functions, zero Python on the row path. Docs shorter than ``n`` tokens
    yield an empty array (guarded: Spark's ``sequence(1, 0)`` would count
    DOWN, not return empty)."""
    t = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({t}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({t}, i, {n})))) "
        f"ELSE cast(array() as array<string>) END"
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_shared: int = 3,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination pairs: (eval_id, train_id, n_shared) where
    the two docs share ≥ ``min_shared`` distinct token ``n``-grams — the
    benchmark-decontamination sweep every training-data pipeline runs before
    shipping an eval set.

    Scale shape: shingle posting lists over the TRAIN side (one groupBy),
    joined by the eval side's shingles — never a doc×doc join. ``max_df``
    drops shingles appearing in more than that many train docs: boilerplate
    n-grams are uninformative for contamination and their posting lists are
    the quadratic term (same production cap as MinHash's MAX_BUCKET). Three
    shuffles total (train postings, eval join, pair count), all on
    high-cardinality keys."""
    tr = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(token_shingles(text_col, n)).alias("sh"),
    )
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(token_shingles(text_col, n)).alias("sh"),
    )
    posts = (
        tr.groupBy("sh")
        .agg(F.sort_array(F.collect_list("train_id")).alias("train_ids"))
        .where(F.size("train_ids") <= max_df)
    )
    return (
        ev.join(posts, "sh")
        .select("eval_id", F.explode("train_ids").alias("train_id"))
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def char_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct character n-gram (shingle) array of a string column — pure
    higher-order functions, zero Python on the row path."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(0)))
    return F.array_distinct(F.transform(idx, lambda i: F.col(text_col).substr(i, F.lit(n))))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    block_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact character-n-gram Jaccard within a blocking key — near-dup
    detection robust to token-boundary edits (the classic shingle measure;
    token-set Jaccard is `jaccard_pairs`)."""
    sh = docs.select(
        id_col, block_col, F.explode(char_shingles(text_col, n)).alias("tok")
    )
    return _jaccard_from_elements(sh, threshold, block_col, id_col)


def _jaccard_from_elements(
    tok: DataFrame,
    threshold: float,
    block_col: str,
    id_col: str,
) -> DataFrame:
    """|A∩B| / |A∪B| over (id, block, element) rows: per-id set sizes, then
    per-element posting lists (groupBy collect + double explode) counting
    common elements, then inclusion–exclusion.

    The posting-list form replaces a (block, element) self-join with one
    groupBy — same output pairs, one less shuffle of the big pair table,
    and the sorted-list explode emits each ordered pair once. The block
    bounds the quadratic term (posting list length ≤ block size)."""
    sizes = tok.groupBy(id_col, block_col).agg(F.count("*").alias("sz"))
    postings = (
        tok.groupBy(block_col, "tok")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    common = (
        postings.select(F.col("ids"), F.explode("ids").alias("id1"))
        .select("id1", F.explode("ids").alias("id2"))
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("id1"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("id2"), F.col("sz").alias("szb"))
    return (
        common.join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1",
            "id2",
            (F.col("c") / (F.col("sza") + F.col("szb") - F.col("c"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 16


def simhash(
    docs: DataFrame,
    n_bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc SimHash over distinct tokens (L2, hamming-space near-dup).

    Bit j uses the top bit of hex nibble j of md5(token): +1/-1 votes summed
    per doc; the signature packs the vote signs. Engine-independent by the
    same construction as minhash_signatures.
    """
    toks = tokens_distinct(docs, id_col, text_col)
    md5c = F.md5(F.col("tok"))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.expr(
                        f"instr('0123456789abcdef', substring(md5(tok), {j + 1}, 1)) - 1"
                    )
                    >= 8,
                    1,
                ).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(n_bits)
        ]
    )
    sig = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        for j in range(n_bits)
    )
    return sums.select(id_col, sig.alias("simhash"))


def duplicate_span_coverage(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span coverage: hash every ``n``-token
    window (stride 1), count how many of a doc's windows also occur in at
    least one OTHER doc, and report the duplicated fraction in exact ppm.

    The doc-level triage signal of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): docs with
    high coverage are boilerplate/mirror candidates for removal or span
    clipping. Complements q86 (train/eval contamination) and q87
    (intra-doc repetition) — this one is corpus-wide and cross-doc
    (``countDistinct(doc)`` ≥ 2, so intra-doc repeats alone don't count).

    Scale shape: windows shuffle once on the 32-hex hash for the
    document-frequency count and once more for the coverage join — both
    keyed on md5 output, perfectly spread; per-doc totals are one more
    keyed agg. Integer arithmetic end to end (ppm = dup·1e6 div total).
    """
    t = f"split({text_col}, ' ')"
    wins = F.expr(
        f"CASE WHEN size({t}) >= {n} THEN "
        f"transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> md5(concat_ws(' ', slice({t}, i, {n})))) "
        f"ELSE cast(array() as array<string>) END"
    )
    w = docs.select(id_col, F.explode(wins).alias("h"))
    dfreq = w.groupBy("h").agg(F.countDistinct(id_col).alias("nd"))
    return (
        w.join(dfreq, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup",
            F.expr("n_dup * 1000000 div n_windows").alias("dup_ppm"),
        )
    )


def ppjoin_pairs(
    docs: DataFrame,
    tau_ppm: int = 400_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """All-pairs set-similarity join via prefix filtering (the PPJoin
    family), the *exact* complement of MinHash-LSH: every pair with
    shingle-set Jaccard ≥ τ is returned, none missed, without an
    all-pairs join. Sets are ``shingle_n``-token shingles (the same
    universe q51's MinHash signs) — unigram token sets saturate on a
    shared vocabulary, shingles isolate genuine near-dups.

    Key idea: order each doc's distinct shingles by ascending global
    document frequency (rarest first; ties by value). Two sets with
    Jaccard ≥ τ must overlap in ≥ ceil(τ·m) elements, so each must expose
    a *prefix* of its first m − ceil(τ·m) + 1 ordered elements containing
    at least one shared element — pairs are generated only from docs
    sharing a prefix element. Rare-first ordering makes prefix postings
    short (the head of the frequency distribution never enters a prefix
    unless the doc is tiny), which keeps the candidate count near-linear.

    All arithmetic is integer (τ in ppm; ceil via (m·τ + 1e6 − 1) div
    1e6), so the candidate bound and the final cross-multiplied Jaccard
    test are engine-exact. Shuffles: element-df join, per-doc sort, prefix
    posting join, verify join — all equi-joins on well-spread keys.

    The ordered-prefix frame has THREE consumers (prefix postings,
    verify-left, verify-right), and the plan stays lazy: it recomputes
    the tokenize→df-join→sort diamond three times (Spark cannot reuse
    the exchange across differently-pruned subtrees — 8 parquet scans of
    the corpus) rather than snapshot it. MEASURED r8 at 1×/8×/32× of
    sf0.1 (9 → 290 MB of text, disjoint-shingle replicas): lazy 6.6 /
    10.4 / 30.5 s vs a ``localCheckpoint`` snapshot 7.3 / 11.7 / 38.7 s —
    lazy wins at EVERY size and the margin widens with data, so there is
    no crossover through 32×. Cause: per_doc's rows carry the full
    shingle arrays (~10× the source text bytes), and snapshotting that
    derived table costs more than re-deriving it — a ratio that is
    scale-INVARIANT, not a small-data artifact, since both sides grow
    linearly."""
    tok = docs.select(
        id_col, F.explode(token_shingles(text_col, shingle_n)).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    per_doc = (
        tok.join(freq, "tok")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("__o"))
        .select(
            F.col(id_col),
            F.transform("__o", lambda x: x["tok"]).alias("toks"),
            F.size("__o").alias("m"),
        )
        .withColumn(
            "p",
            F.col("m")
            - F.expr(f"(m * {tau_ppm} + 999999) div 1000000").cast("int")
            + 1,
        )
    )
    prefix = per_doc.select(
        F.col(id_col), "m", F.explode(F.slice("toks", 1, F.col("p"))).alias("ptok")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )
    left = per_doc.select(
        F.col(id_col).alias("id1"), F.col("toks").alias("t1"), F.col("m").alias("m1")
    )
    right = per_doc.select(
        F.col(id_col).alias("id2"), F.col("toks").alias("t2"), F.col("m").alias("m2")
    )
    verified = (
        cand.join(left, "id1")
        .join(right, "id2")
        .withColumn("inter", F.size(F.array_intersect("t1", "t2")).cast("bigint"))
        .withColumn("un", F.col("m1") + F.col("m2") - F.col("inter"))
        .where(F.col("inter") * 1_000_000 >= F.lit(tau_ppm) * F.col("un"))
    )
    return verified.select(
        "id1",
        "id2",
        F.expr("inter * 1000000 div un").cast("bigint").alias("jacc_ppm"),
    )


def _window_anchor_positions(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, i, h): md5 anchor of every ``n``-token window at 1-based
    position ``i`` (stride 1) — the k-mer anchor table both ExactSubstr
    entry points below share. Docs shorter than ``n`` tokens emit
    nothing.

    ``spread`` first: the window transform is a higher-order function
    (interpreted, outside whole-stage codegen) evaluating one md5 per
    window — heavy per-row work that a one-row-group parquet scan
    serializes onto a single core (no-op at production scale;
    operators/spread.py)."""
    docs = _spread(docs.select(id_col, text_col))
    t = f"split({text_col}, ' ')"
    wins = F.expr(
        f"CASE WHEN size({t}) >= {n} THEN "
        f"transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> struct(i AS i, md5(concat_ws(' ', slice({t}, i, {n}))) AS h)) "
        f"ELSE cast(array() as array<struct<i:int,h:string>>) END"
    )
    return docs.select(id_col, F.explode(wins).alias("w")).select(
        id_col, F.col("w.i").alias("i"), F.col("w.h").alias("h")
    )


def _cross_doc_dup_positions(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, s, e): inclusive 1-based token intervals of every window whose
    content occurs in ≥2 DISTINCT documents. Never all-pairs: the anchor
    groupBy counts distinct docs per window hash (one shuffle on md5 keys,
    perfectly spread), and positions join back on the same key — linear in
    corpus tokens at any scale, no posting-list explosion, no df cap
    needed because no pair is ever emitted."""
    w = _window_anchor_positions(docs, n, id_col, text_col)
    dup = (
        w.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    return w.join(dup, "h").select(
        id_col, F.col("i").alias("s"), (F.col("i") + (n - 1)).alias("e")
    )


def exact_substring_spans(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int | None = None,
) -> DataFrame:
    """Maximal cross-document duplicated spans — the ExactSubstr pass of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), the dedup step every major open corpus runs AFTER MinHash:
    find every maximal region of ≥ ``n`` tokens whose every ``n``-token
    window also occurs in at least one OTHER document, and emit it as a
    per-doc excision interval.

    Reference anchor: the user-supplied transform surface
    (`/root/reference/README.md:41-64`) whose LLM mandate names dedup
    first; q101 (`duplicate_span_coverage`) is the doc-level triage
    signal, this is the span-level operator it triages for.

    Shape: k-mer anchors (``_window_anchor_positions``) → cross-doc
    document-frequency filter (one md5-keyed shuffle, linear — see
    ``_cross_doc_dup_positions``) → per-doc maximal-interval coalesce
    (``operators/intervals.py merge_intervals``, one window shuffle on
    the doc key). Overlapping AND contiguous duplicated windows merge
    (slack=1 on inclusive intervals): contiguous duplicated text is one
    excision region even when its halves duplicate different sources.

    VARIABLE-LENGTH THRESHOLD (true Lee et al. semantics — the paper
    excises maximal duplicated substrings ≥ 50 tokens, not ≥ 8):
    ``min_len`` keeps only coalesced spans of at least that many tokens.
    Two exactness regimes, both never pair-exploding:

    - ``n == min_len`` (one window size per threshold): the excised
      POSITION SET equals the true Lee et al. coverage exactly — a
      position sits in a ≥ L-token cross-doc duplicated substring iff it
      sits in a duplicated L-token window (any position of an
      ≥ L interval lies inside some length-L subinterval, and every
      duplicated L-window IS a duplicated L-substring). Pinned against
      a pure-Python suffix scan in the property tests.
    - ``n < min_len`` (one fine-grained anchor index serving EVERY
      threshold — the multi-resolution posture for saved indexes):
      recall is still 1 (a true ≥ min_len duplicate's n-windows all
      duplicate, so its chain survives the filter) but chains may
      over-excise: a coalesced run can stitch sub-threshold duplicates
      from different sources into one ≥ min_len region.

    Returns (id, span_id, span_start, span_end, span_tokens, n_windows):
    1-based inclusive token intervals, span_id numbering spans in start
    order within each doc (renumbered after the threshold filter)."""
    from rdkafka_streams_spark.operators.intervals import merge_intervals

    if min_len is not None and min_len < n:
        raise ValueError(
            f"min_len={min_len} below the window size n={n} — spans are "
            "always >= n tokens, so the threshold would be a no-op lie"
        )
    pos = _cross_doc_dup_positions(docs, n, id_col, text_col)
    spans = merge_intervals(pos, id_col, "s", "e", slack=1)
    if min_len is not None:
        spans = spans.where(
            F.col("island_end") - F.col("island_start") + 1 >= min_len
        ).withColumn(
            "island_id",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("island_start")
            ).cast("bigint"),
        )
    return spans.select(
        id_col,
        F.col("island_id").alias("span_id"),
        F.col("island_start").cast("bigint").alias("span_start"),
        F.col("island_end").cast("bigint").alias("span_end"),
        (F.col("island_end") - F.col("island_start") + 1)
        .cast("bigint")
        .alias("span_tokens"),
        F.col("n_merged").alias("n_windows"),
    )


def exact_substring_excise(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int | None = None,
) -> DataFrame:
    """Apply ExactSubstr dedup: REMOVE every token covered by a cross-doc
    duplicated window (see ``exact_substring_spans``) and return the
    surviving text — Lee et al. 2022's excision semantics (duplicated
    bytes are cut out of every copy; the surrounding unique text
    survives), as opposed to dropping whole documents.

    Scale shape: covered positions come from exploding each duplicated
    window to its ``n`` token indexes (≤ n× the duplicated-window count,
    linear), the keep-side is one posexplode of the corpus, and the
    anti-join + per-doc rebuild are both keyed on (id, position) /
    id — high-cardinality, well-spread. The rebuild sorts each doc's
    surviving tokens inside ``array_sort`` (struct-of-(pos, tok)), so no
    per-doc window function is needed.

    ``min_len`` raises the excision threshold to the paper's semantics
    (maximal duplicated regions of at least that many tokens — Lee et
    al. use 50): positions are cut only when their coalesced duplicated
    region reaches ``min_len`` (see ``exact_substring_spans`` for the
    two exactness regimes). Default None keeps the historical
    every-duplicated-window behavior (≡ ``min_len=n``).

    Returns (id, clean_text, n_tokens, n_removed); docs fully covered
    return an empty clean_text, docs with no duplicated span return
    their original token stream (single-space re-joined)."""
    if min_len is None:
        pos = _cross_doc_dup_positions(docs, n, id_col, text_col)
    else:
        pos = exact_substring_spans(
            docs, n, id_col, text_col, min_len=min_len
        ).select(
            id_col,
            F.col("span_start").alias("s"),
            F.col("span_end").alias("e"),
        )
    covered = pos.select(
        id_col, F.explode(F.sequence("s", "e")).alias("j")
    ).distinct()
    toks = docs.select(
        id_col,
        F.posexplode(F.split(text_col, " ")).alias("j0", "tok"),
    ).select(id_col, (F.col("j0") + 1).alias("j"), "tok")
    kept = toks.join(covered, [id_col, "j"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    base = docs.select(
        id_col, F.size(F.split(text_col, " ")).cast("bigint").alias("n_tokens")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_removed"
        ),
    )


def exact_substring_anchor_index(
    base: DataFrame, n: int = 8, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The STANDING ExactSubstr anchor index: the corpus's DISTINCT
    ``n``-token window hashes — built once, saved (parquet), probed by
    every increment via ``exact_substring_spans_incremental``'s
    ``index`` argument. Output is bounded by distinct content, not
    corpus size."""
    return (
        _window_anchor_positions(base, n, id_col, text_col)
        .select("h")
        .distinct()
    )


def exact_substring_spans_incremental(
    base: DataFrame | None,
    delta: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: DataFrame | None = None,
    min_len: int | None = None,
) -> DataFrame:
    """Delta-vs-corpus ExactSubstr — the DAILY-INGEST posture of
    exact-substring dedup (the span twin of
    ``minhash_near_dups_incremental``): a 100 TB pipeline never
    re-anchors the standing corpus when an increment arrives; it probes
    the increment's windows against the corpus anchor index. A delta
    doc's window is duplicated if its content occurs ANYWHERE in the
    base corpus (the index side — in production built once with
    ``exact_substring_anchor_index``, SAVED, and passed back via
    ``index``, in which case ``base`` may be None); windows shared only
    among delta docs are the next increment's base-side problem, by the
    same rule q284 applies to MinHash buckets. Returns the same maximal
    per-doc excision intervals as ``exact_substring_spans``, for delta
    docs only.

    Scale shape: the base side collapses to DISTINCT window hashes (one
    md5-keyed shuffle, output bounded by distinct content, not corpus
    size); the delta side is |delta|-sized; the probe is one equi-join
    on the hash; the coalesce windows only over delta docs."""
    from rdkafka_streams_spark.operators.intervals import merge_intervals

    if index is None and base is None:
        raise ValueError(
            "exact_substring_spans_incremental needs either the base "
            "corpus or a prebuilt anchor index"
        )
    bw = (
        index
        if index is not None
        else exact_substring_anchor_index(base, n, id_col, text_col)
    )
    if min_len is not None and min_len < n:
        raise ValueError(
            f"min_len={min_len} below the window size n={n} — spans are "
            "always >= n tokens, so the threshold would be a no-op lie"
        )
    dw = _window_anchor_positions(delta, n, id_col, text_col)
    pos = dw.join(bw, "h").select(
        id_col, F.col("i").alias("s"), (F.col("i") + (n - 1)).alias("e")
    )
    spans = merge_intervals(pos, id_col, "s", "e", slack=1)
    if min_len is not None:
        spans = spans.where(
            F.col("island_end") - F.col("island_start") + 1 >= min_len
        ).withColumn(
            "island_id",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("island_start")
            ).cast("bigint"),
        )
    return spans.select(
        id_col,
        F.col("island_id").alias("span_id"),
        F.col("island_start").cast("bigint").alias("span_start"),
        F.col("island_end").cast("bigint").alias("span_end"),
        (F.col("island_end") - F.col("island_start") + 1)
        .cast("bigint")
        .alias("span_tokens"),
        F.col("n_merged").alias("n_windows"),
    )


def eval_shingle_index(
    eval_df: DataFrame,
    n: int = 3,
    max_eval_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INDEX-BUILD DAY for incremental decontamination: the benchmark
    suite's distinct token n-grams as (sh, eval_id) posting rows, with
    shingles appearing in more than ``max_eval_df`` eval docs dropped
    at BUILD time (eval-side boilerplate is uninformative for
    contamination and its posting list is the quadratic term — the
    ``decontaminate`` max_df cap moved to the side that is actually
    standing still). The benchmark set is fixed and small relative to
    the corpus, so the index is built once and saved (parquet), and no
    training increment ever re-reads the eval texts — the q318/q326/
    q329 saved-artifact posture applied to decontamination."""
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(token_shingles(text_col, n)).alias("sh"),
    )
    w = Window.partitionBy("sh")
    return (
        ev.withColumn("__df", F.size(F.collect_set("eval_id").over(w)))
        .where(F.col("__df") <= max_eval_df)
        .select("sh", "eval_id")
    )


def decontaminate_incremental(
    index: DataFrame,
    delta_train: DataFrame,
    n: int = 3,
    min_shared: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INGEST-DAY decontamination: check a TRAINING increment against
    the SAVED eval shingle index — (eval_id, train_id, n_shared) pairs
    sharing ≥ ``min_shared`` distinct ``n``-grams, exactly
    ``decontaminate``'s pair rule with the standing side precomputed.
    Scale: the increment's shingles join the (broadcast-able when the
    benchmark is benchmark-sized) index on the shingle key — never
    doc × doc, never an eval-text rescan; one pair-count shuffle."""
    tr = delta_train.select(
        F.col(id_col).alias("train_id"),
        F.explode(token_shingles(text_col, n)).alias("sh"),
    )
    return (
        tr.join(index, "sh")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
