"""Unit tests for the custom operator compositions (asof/topk/sample/dedup)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rdkafka_streams_spark.llm.dedup import exact_dedup, minhash_signatures
from rdkafka_streams_spark.llm.text import fingerprint
from rdkafka_streams_spark.operators import asof_join, hash_sample, top_k, top_k_per_group


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_strict(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "L1"), (1, _ts("2024-01-01 12:00:00"), "L2"),
         (2, _ts("2024-01-01 10:30:00"), "L3")],
        "k int, ts timestamp, who string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 10.0), (1, _ts("2024-01-01 11:00:00"), 20.0),
         (2, _ts("2024-01-01 10:30:00"), 30.0)],
        "k int, ts timestamp, v double",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", payload=["v"])
    got = {r["who"]: r["v_asof"] for r in out.collect()}
    # L1: only 09:00 is prior → 10.0; L2: 11:00 → 20.0;
    # L3: right at the SAME instant — strict means not visible → None
    assert got == {"L1": 10.0, "L2": 20.0, "L3": None}


def test_asof_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(2, _ts("2024-01-01 10:30:00"), "L3")], "k int, ts timestamp, who string"
    )
    right = spark.createDataFrame(
        [(2, _ts("2024-01-01 10:30:00"), 30.0)], "k int, ts timestamp, v double"
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["v"], strict=False)
    assert out.collect()[0]["v_asof"] == 30.0


def test_asof_no_match_keeps_left_row(spark):
    left = spark.createDataFrame([(9, _ts("2024-01-01 10:00:00"))], "k int, ts timestamp")
    right = spark.createDataFrame([(1, _ts("2024-01-01 09:00:00"), 1.0)],
                                  "k int, ts timestamp, v double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", payload=["v"])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v_asof"] is None


def test_top_k_deterministic(spark, sf_dir):
    from rdkafka_streams_spark.core.io import load_table

    o = load_table(spark, sf_dir, "orders")
    a = top_k(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 5).collect()
    b = top_k(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 5).collect()
    assert [r["o_orderkey"] for r in a] == [r["o_orderkey"] for r in b]
    assert len(a) == 5


def test_top_k_per_group_sizes(spark, sf_dir):
    from rdkafka_streams_spark.core.io import load_table

    c = load_table(spark, sf_dir, "customer")
    out = top_k_per_group(
        c, ["c_mktsegment"], [F.col("c_acctbal").desc(), F.col("c_custkey")], 2
    )
    sizes = out.groupBy("c_mktsegment").count().collect()
    assert all(r["count"] <= 2 for r in sizes)


def test_hash_sample_deterministic_and_sized(spark, sf_dir):
    from rdkafka_streams_spark.core.io import load_table

    l = load_table(spark, sf_dir, "lineitem")
    n1 = hash_sample(l, "l_orderkey", 10).count()
    n2 = hash_sample(l, "l_orderkey", 10).count()
    total = l.count()
    assert n1 == n2
    assert 0.02 * total < n1 < 0.25 * total  # ~10%, generous bounds


def test_exact_dedup_keeps_min_id(spark):
    d = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(d).collect())
    assert kept == [1, 2]


def test_minhash_identical_docs_identical_sigs(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "delta epsilon")],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: tuple(r[f"h{s}"] for s in range(8))
           for r in minhash_signatures(d).collect()}
    assert sig[1] == sig[2]  # token-set equality ⇒ identical signatures
    assert sig[1] != sig[3]


def test_fingerprint_stable_under_identity(spark):
    d = spark.createDataFrame([(1, "hello world document"), (2, "hello world document")],
                              "doc_id long, text string")
    fps = [r["fp"] for r in fingerprint(d).collect()]
    assert fps[0] == fps[1]


def test_cli_list_and_run(spark, capsys):
    from rdkafka_streams_spark.__main__ import main

    assert main(["list", "q01"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "[oracle]" in out

    assert main(["run", "q13_agg_basic", "--limit", "2"]) == 0
    out = capsys.readouterr().out
    assert "only showing top 2 rows" in out or "n_orders" in out

    assert main(["explain", "q01", "--mode", "simple"]) == 0
    assert "AdaptiveSparkPlan" in capsys.readouterr().out

    assert main(["run", "nonexistent_query"]) == 2


def test_decontaminate_and_shingles(spark):
    from rdkafka_streams_spark.llm.dedup import decontaminate, token_shingles

    # short/empty docs yield no shingles (no descending-sequence bug)
    d = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three")],
        "doc_id long, text string",
    )
    sizes = {r["doc_id"]: r["n"] for r in d.select(
        "doc_id", F.size(token_shingles("text", 3)).alias("n")).collect()}
    assert sizes == {1: 0, 2: 0, 3: 0, 4: 1}

    # contamination: eval doc 100 shares a 3-shingle run with train doc 1
    # only; 'common noise phrase' appears in EVERY train doc and must be
    # df-capped out, so doc 200 (only boilerplate overlap) reports nothing
    train = spark.createDataFrame(
        [(i, f"common noise phrase unique{i} a b") for i in range(1, 10)]
        + [(1, "alpha beta gamma delta epsilon common noise phrase")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zzz"),
         (200, "common noise phrase only here")],
        "doc_id long, text string",
    )
    got = {(r["eval_id"], r["train_id"]): r["n_shared"]
           for r in decontaminate(train, ev, n=3, min_shared=3, max_df=5).collect()}
    assert got == {(100, 1): 3}  # alpha-beta-gamma, beta-gamma-delta, gamma-delta-epsilon


def test_chunk_documents_windows(spark):
    from rdkafka_streams_spark.llm.text import chunk_documents

    d = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk"], r["chunk_tokens"])
           for r in chunk_documents(d, chunk_tokens=4, overlap=1).collect()}
    # doc 1: stride 3 → windows at 0,3,6,9; last is the 1-token remainder
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert got[(1, 3)] == ("t9", 1)
    # consecutive chunks overlap by exactly `overlap` tokens
    assert got[(1, 0)][0].split()[-1:] == got[(1, 1)][0].split()[:1]
    assert got[(2, 0)] == ("a b", 2) and got[(3, 0)] == ("x", 1)
    assert len(got) == 6


def test_pack_sequences_budget(spark):
    from rdkafka_streams_spark.llm.text import pack_sequences

    d = spark.createDataFrame(
        [(1, "en", "a " * 99 + "a"), (2, "en", "b " * 49 + "b"),
         (3, "en", "c " * 99 + "c"), (4, "de", "d " * 9 + "d")],
        "doc_id long, lang string, text string",
    )
    got = {r["doc_id"]: r["seq_id"] for r in pack_sequences(d, seq_len=128, group_col="lang").collect()}
    # en: cum-before = 0, 100, 150 → seqs 0, 0, 1; de restarts at 0
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}


def test_repetition_stats_flag(spark):
    from rdkafka_streams_spark.llm.text import repetition_stats

    d = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),       # all bigrams identical
         (2, "a b c d e f g h"),                # no repeats
         (3, "solo")],                          # too short for bigrams
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_ngrams"], r["n_distinct"], r["is_repetitive"])
           for r in repetition_stats(d, n=2).collect()}
    assert got[1] == (4, 1, True)
    assert got[2] == (7, 7, False)
    assert got[3] == (0, 0, False)


def test_language_profiles_sample_fraction(spark, sf_dir):
    """fraction=1.0 is bit-identical to the default full-corpus build (the
    knob must be a pure no-op when off); fraction<1 still yields a valid
    top-N-per-language profile and a full detect pass (one row per doc,
    detected ∈ langs ∪ {unknown})."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import PROFILE_TOP_N, detect_language, language_profiles

    docs = load_table(spark, sf_dir, "documents")
    full = {(r["plang"], r["tok"]) for r in language_profiles(docs).collect()}
    at_1 = {(r["plang"], r["tok"])
            for r in language_profiles(docs, sample_fraction=1.0).collect()}
    assert at_1 == full

    sampled = language_profiles(docs, sample_fraction=0.5).collect()
    per_lang: dict[str, int] = {}
    for r in sampled:
        per_lang[r["plang"]] = per_lang.get(r["plang"], 0) + 1
    assert per_lang and all(n <= PROFILE_TOP_N for n in per_lang.values())

    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    det = detect_language(docs, profile_sample_fraction=0.5)
    assert det.count() == docs.count()
    assert {r["detected"] for r in det.select("detected").distinct().collect()} <= (
        langs | {"unknown"}
    )


def test_detect_language_cache_hygiene(spark, sf_dir):
    """VERDICT r6 weak-mark: q57 must not pin a session cache. The default
    eager-profiles path (a) matches the legacy shared-persist plan value
    for value, and (b) leaves zero persistent RDDs / cached relations after
    full materialization of the registry q57 entry."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import detect_language
    from rdkafka_streams_spark.queries.llm import q57_lang_confusion

    docs = load_table(spark, sf_dir, "documents")
    eager = {(r["doc_id"], r["detected"])
             for r in detect_language(docs).select("doc_id", "detected").collect()}
    legacy_df = detect_language(docs, eager_profiles=False)
    legacy = {(r["doc_id"], r["detected"])
              for r in legacy_df.select("doc_id", "detected").collect()}
    assert eager == legacy
    spark.catalog.clearCache()  # release the legacy path's deliberate persist

    # delta-based: other tests in the session may hold their own legitimate
    # persists; the contract here is that q57 itself adds NONE
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    rows = q57_lang_confusion(spark, sf_dir).collect()
    assert rows
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, (
        f"q57 pinned a session cache after materialization: {after - before}"
    )


def test_sample_frames_grid_and_carry(spark, sf_dir):
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.multimodal import attach_media, decode_media, sample_frames

    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = attach_media(docs)
    frames = sample_frames(media, fps=2.0, duration_s=3.0)
    assert frames.count() == 10 * 6  # 6 frames per blob
    one = frames.where(F.col("doc_id") == frames.select("doc_id").first()[0])
    ts = [r["frame_ts"] for r in one.orderBy("frame_idx").collect()]
    assert ts == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]
    # per-frame rows feed the decode stage unchanged (schema contract)
    decoded = decode_media(
        frames.select("doc_id", F.octet_length("frame").alias("byte_len"),
                      F.col("frame").alias("content"))
    )
    assert decoded.count() == 60


def test_stdlib_image_codecs_roundtrip():
    """Pure-Python codec property: encode→sniff→decode is the identity
    for every (format, width) pair — widths 8..16 hit every BMP row-pad
    residue (w·3 % 4 ∈ {0,1,2,3}) and heights ≥ 8 exercise all five PNG
    filter types (row y uses filter y % 5 by construction)."""
    from rdkafka_streams_spark.llm.multimodal import (
        _STDLIB_CODECS,
        _fixture_pixels,
        decode_image,
    )

    for did in range(30):
        w, h, px = _fixture_pixels(did)
        for mt, (enc, _dec) in _STDLIB_CODECS.items():
            assert decode_image(enc(w, h, px)) == (w, h, px), (did, mt)


def test_media_probes_clamp_on_tiny_images(spark):
    """Review r11: the positional probes are clamped into bounds — a
    valid 2×2 image (decode) and a 2×2 thumbnail (resize) must not
    index past the raster or report a pixel outside the declared
    output grid."""
    from rdkafka_streams_spark.llm.multimodal import (
        _encode_ppm,
        decode_media_stdlib,
        generate_images,
        resize_images_stdlib,
    )

    px = bytes(range(2 * 2 * 3))
    media = spark.createDataFrame(
        [(1, "image/x-portable-pixmap", len(_encode_ppm(2, 2, px)),
          bytearray(_encode_ppm(2, 2, px)))],
        "doc_id bigint, media_type string, byte_len int, content binary",
    )
    row = decode_media_stdlib(media).first()
    assert (row["width"], row["height"]) == (2, 2)
    assert row["px_probe"] == px[(1 * 2 + 1) * 3 + 1]  # clamped (1,1,1)
    docs = spark.createDataFrame([(7,)], "doc_id bigint")
    r = resize_images_stdlib(generate_images(docs), out_w=2, out_h=2).first()
    assert (r["out_w"], r["out_h"]) == (2, 2)
    assert 0 <= r["px_probe"] <= 255  # clamped probe stays in the grid


def test_ppm_decoder_handles_comments_and_jpeg_raises():
    from rdkafka_streams_spark.llm.multimodal import _decode_ppm, decode_image

    px = bytes(range(2 * 2 * 3))
    blob = b"P6\n# a comment\n2 # inline\n2\n# before maxval\n255\n" + px
    assert _decode_ppm(blob) == (2, 2, px)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0fakejpeg")


def test_sql_string_surface_matches_dataframe(spark, sf_dir):
    """The engine's SQL-text surface: register_views + spark.sql of the
    flagship produces exactly the DataFrame API's result (same Catalyst
    plan space — proves a SQL-string user loses nothing)."""
    from rdkafka_streams_spark.core.io import register_views
    from rdkafka_streams_spark.queries import REGISTRY

    register_views(spark, sf_dir)
    sql_rows = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).collect()
    df_rows = (
        REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
        .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
        .collect()
    )
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in df_rows]


def test_map_in_arrow_surface(spark, sf_dir):
    """E34: mapInArrow — the zero-copy batch API under the pandas UDFs
    (RecordBatch in/out, no pandas conversion). Demo: per-batch byte-length
    column computed with pyarrow.compute."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from rdkafka_streams_spark.core.io import load_table

    def add_len(batches):
        for batch in batches:
            arr = pc.binary_length(batch.column(batch.schema.get_field_index("text")))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), arr], names=["doc_id", "text_len"]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = docs.mapInArrow(add_len, schema="doc_id long, text_len int")
    got = {r["doc_id"]: r["text_len"] for r in out.limit(50).collect()}
    expect = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.octet_length("text").alias("n")).limit(50).collect()
    }
    assert got == expect


def test_redact_pii_patterns(spark):
    from rdkafka_streams_spark.llm.text import redact_pii

    d = spark.createDataFrame(
        [("mail bob@x.io or +1 555-123-4567 see https://a.b/c end",),
         ("clean text stays",)],
        "text string",
    )
    got = [r["clean"] for r in d.select(redact_pii("text").alias("clean")).collect()]
    assert got[0] == "mail <EMAIL> or <PHONE> see <URL> end"
    assert got[1] == "clean text stays"


def test_dedup_pipeline_empty_and_degenerate_inputs(spark):
    """Empty corpus and single-doc corpus flow through the whole dedup
    pipeline (signatures -> LSH -> jaccard -> components) without errors —
    the edge every distributed operator must survive (empty partitions are
    routine at 100 TB)."""
    from rdkafka_streams_spark.llm.dedup import (
        jaccard_pairs,
        minhash_near_dups,
        minhash_signatures,
        simhash,
    )
    from rdkafka_streams_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert minhash_signatures(empty).count() == 0
    assert minhash_near_dups(empty).count() == 0
    assert simhash(empty).count() == 0
    assert jaccard_pairs(empty).count() == 0

    one = spark.createDataFrame([(1, "solo doc", "en")], "doc_id long, text string, lang string")
    assert minhash_near_dups(one).count() == 0  # no pair partner
    assert simhash(one).count() == 1

    no_edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(no_edges).count() == 0


def test_quantized_topk_vs_exact(spark, sf_dir):
    """Int8 scalar quantization: values bounded to [-127, 127], max-magnitude
    component hits exactly ±127, and quantized top-3 recalls nearly all of
    the exact brute-force top-3 (the 64-dim fixture loses < 2e-3 cosine to
    quantization, far smaller than typical neighbor gaps — but ties can
    flip, so the contract is high recall, not equality)."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        cosine_topk,
        quantize_embeddings,
        quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = quantize_embeddings(emb, "embedding")
    stats = qv.select(
        F.max(F.array_max(F.transform("qvec", lambda x: F.abs(x)))).alias("mx"),
        F.min(F.array_max(F.transform("qvec", lambda x: F.abs(x)))).alias("mn"),
    ).first()
    assert stats["mx"] == 127, "largest component must quantize to ±127"
    assert stats["mn"] == 127, "every vector's max-|.| component is ±127 by construction"

    queries = emb.where(F.col("vec_id") < 10)
    exact = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=3).collect()}
    quant = {(r["q_id"], r["vec_id"]) for r in quantized_topk(emb, queries, k=3).collect()}
    assert len(quant) == len(exact) == 30
    assert len(quant & exact) / len(exact) >= 0.9


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs sharing the target slice's vocabulary must outscore docs that
    don't: DSIR's defining property, on a corpus tiny enough to eyeball."""
    from rdkafka_streams_spark.llm.text import dsir_weights

    rows = [
        (0, "alpha beta alpha beta gamma", "en"),
        (1, "alpha beta gamma alpha beta", "en"),
        (2, "alpha beta alpha gamma beta", "xx"),  # target-shaped, not in slice
        (3, "zeta eta theta iota kappa", "xx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {r["doc_id"]: r["weight"] for r in dsir_weights(docs, F.col("lang") == "en").collect()}
    assert w[2] > w[3], f"target-shaped doc must outscore off-target: {w}"
    assert w[0] > w[3] and w[1] > w[3]


def test_bigram_lm_scores_repetition_vs_novelty(spark):
    """A doc made of the corpus's dominant bigram scores lower cross-entropy
    than one of bigrams seen nowhere else (add-one smoothing keeps novel
    transitions finite but expensive)."""
    from rdkafka_streams_spark.llm.text import bigram_lm_scores

    rows = [
        (0, "a b a b a b a b"),
        (1, "a b a b a b a b"),
        (2, "q r s t u v w x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    x = {r["doc_id"]: r["xent"] for r in bigram_lm_scores(docs).collect()}
    assert x[0] == x[1] < x[2], f"dominant-bigram docs must score lower NLL: {x}"


def test_scd2_build_compacts_and_dates(spark):
    from rdkafka_streams_spark.operators.cdc import scd2_build

    rows = [
        (1, _ts("2024-01-01 00:00:00"), 100, "A"),
        (1, _ts("2024-01-02 00:00:00"), 101, "A"),  # no-op change → compacted
        (1, _ts("2024-01-03 00:00:00"), 102, "B"),
        (2, _ts("2024-01-01 12:00:00"), 103, "C"),
    ]
    log = spark.createDataFrame(rows, "k long, ts timestamp, eid long, v string")
    out = scd2_build(log, key="k", ts="ts", attrs=["v"], tiebreak="eid")
    got = {(r["k"], r["v"]): (r["valid_from"], r["valid_to"], r["is_current"]) for r in out.collect()}
    assert len(got) == 3  # the no-op row vanished
    assert got[(1, "A")] == (_ts("2024-01-01 00:00:00"), _ts("2024-01-03 00:00:00"), False)
    assert got[(1, "B")] == (_ts("2024-01-03 00:00:00"), None, True)
    assert got[(2, "C")][2] is True


def test_scd2_merge_matches_full_rebuild_and_is_idempotent(spark):
    from rdkafka_streams_spark.operators.cdc import scd2_build, scd2_merge

    schema = "k long, ts timestamp, eid long, v string"
    part1 = [
        (1, _ts("2024-01-01 00:00:00"), 1, "A"),
        (1, _ts("2024-01-05 00:00:00"), 2, "B"),
        (2, _ts("2024-01-02 00:00:00"), 3, "X"),
    ]
    part2 = [
        (1, _ts("2024-01-09 00:00:00"), 4, "C"),
        (2, _ts("2024-01-07 00:00:00"), 5, "X"),  # no-op image → must not fork a version
        (3, _ts("2024-01-08 00:00:00"), 6, "N"),  # brand-new key
    ]
    full = spark.createDataFrame(part1 + part2, schema)
    dim1 = scd2_build(spark.createDataFrame(part1, schema), "k", "ts", ["v"], tiebreak="eid")
    merged = scd2_merge(dim1, spark.createDataFrame(part2, schema), "k", "ts", ["v"], tiebreak="eid")
    want = {tuple(r) for r in scd2_build(full, "k", "ts", ["v"], tiebreak="eid").collect()}
    got = {tuple(r) for r in merged.collect()}
    assert got == want

    # merging the same changeset again must change nothing (re-delivery safety)
    again = scd2_merge(merged, spark.createDataFrame(part2, schema), "k", "ts", ["v"], tiebreak="eid")
    assert {tuple(r) for r in again.collect()} == want


def test_pq_random_codebooks_encode_and_search(spark, sf_dir):
    """Product quantization with the md5-random codebooks (pq_codebooks):
    pq_encode emits one in-range code per subvector block, and
    pq_search_adc returns a complete top-3 for every query."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import pq_codebooks, pq_encode, pq_search_adc

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cb = pq_codebooks(8, 16, 64)
    codes = pq_encode(emb, cb)
    got = {
        (r["q_id"], r["vec_id"])
        for r in pq_search_adc(codes, cb, queries, k=3).collect()
    }
    assert len(got) == 30
    assert {q for q, _ in got} == set(range(10))
    cr = codes.select(F.array_min("codes").alias("lo"), F.array_max("codes").alias("hi"))
    lo, hi = cr.agg(F.min("lo"), F.max("hi")).first()
    assert 0 <= lo and hi <= 15, "codes out of range"


def test_pq_integer_trainer_rejects_indivisible_dim(spark, sf_dir):
    """Every PQ block covers the same number of dims and none is dropped:
    a 64-dim corpus cannot split into 5 blocks, so the trainer raises
    before it runs a single Lloyd's iteration."""
    import pytest as _pytest

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import build_pq_codebooks_integer

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="not divisible into 5 subspaces"):
        build_pq_codebooks_integer(emb, m=5)


def test_merge_intervals_islands_and_slack(spark):
    """Merged islands are disjoint, ordered, cover their inputs; slack
    bridges gaps ≤ slack (operators/intervals.py)."""
    from rdkafka_streams_spark.operators.intervals import merge_intervals

    rows = [
        # key a: [0,10] [5,8] [9,12] overlap into one; [20,25] separate
        ("a", 0, 10), ("a", 5, 8), ("a", 9, 12), ("a", 20, 25),
        # key b: touching endpoints merge ([0,5] start 5 <= prev end 5)
        ("b", 0, 5), ("b", 5, 7),
    ]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = {
        (r.k, r.island_id, r.island_start, r.island_end, r.n_merged)
        for r in merge_intervals(df, "k", "s", "e").collect()
    }
    assert got == {
        ("a", 1, 0, 12, 3),
        ("a", 2, 20, 25, 1),
        ("b", 1, 0, 7, 2),
    }
    # slack=8 bridges a's [12..20] gap
    slacked = {
        (r.k, r.island_id, r.n_merged)
        for r in merge_intervals(df, "k", "s", "e", slack=8).collect()
    }
    assert slacked == {("a", 1, 4), ("b", 1, 2)}


def test_hash_split_is_stable_and_partitions(spark):
    """Every row gets exactly one split; assignment is a pure function of
    the key (subset invariance — the no-eval-contamination property)."""
    from rdkafka_streams_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    full = hash_split(df, "k", {"train": 80, "val": 10, "test": 10})
    counts = {r["split"]: r["n"] for r in full.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 1600) < 200  # ~80% of 2000
    # subset invariance: computing on a filtered frame never flips a split
    sub = hash_split(df.where(F.col("k") % 3 == 0), "k", {"train": 80, "val": 10, "test": 10})
    joined = full.alias("f").join(sub.alias("s"), "k").where(F.col("f.split") != F.col("s.split"))
    assert joined.count() == 0


def test_time_proximity_join_matches_naive(spark):
    """Banded equi-join produces exactly the naive theta-join pair set,
    including pairs that straddle a band boundary."""
    from rdkafka_streams_spark.operators.timejoin import time_proximity_join

    rows = [
        # (id, key, seconds) — gap 600 exactly, straddling bands, same-ts
        (1, 1, 0), (2, 1, 600), (3, 1, 1201), (4, 1, 1800),
        (5, 2, 100), (6, 2, 100), (7, 2, 799),
    ]
    df = spark.createDataFrame(
        [(i, k, s) for i, k, s in rows], "event_id long, user_id long, sec long"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    got = {
        (r.event_id, r.r_event_id, r.gap_us)
        for r in time_proximity_join(df, df, "user_id", max_gap_seconds=600).collect()
    }
    naive = set()
    for i, k, s in rows:
        for j, k2, s2 in rows:
            if k == k2 and 0 <= s2 - s <= 600:
                naive.add((i, j, (s2 - s) * 1_000_000))
    assert got == naive


def test_digest_diff_empty_on_identical_tables(spark):
    from rdkafka_streams_spark.operators.reconcile import bucket_digest, digest_diff

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 13).alias("v")
    )
    d1 = bucket_digest(df, "k", ["k", "v"], n_buckets=32)
    d2 = bucket_digest(df, "k", ["k", "v"], n_buckets=32)
    assert digest_diff(d1, d2).count() == 0
    # a single-row mutation is localized to exactly one bucket
    mut = df.withColumn("v", F.when(F.col("k") == 123, 999).otherwise(F.col("v")))
    d3 = bucket_digest(mut, "k", ["k", "v"], n_buckets=32)
    diff = digest_diff(d1, d3).collect()
    assert len(diff) == 1 and diff[0]["bucket"] == 123 % 32


def test_exact_group_quantiles_vs_numpy(spark):
    import numpy as np

    from rdkafka_streams_spark.operators.quantiles import exact_group_quantiles

    vals = [1.25, 9.5, 2.0, 7.75, 3.5, 0.25, 8.0, 5.5]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    row = exact_group_quantiles(df, "g", "v", (0.25, 0.5, 0.75)).first()
    for name, q in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
        assert abs(row[name] - np.quantile(vals, q)) < 1e-9, name


def test_binpack_bins_contiguous_and_bounded(spark):
    from rdkafka_streams_spark.operators.binpack import plan_compaction_bins, summarize_bins

    files = spark.createDataFrame(
        [("d1", i, 30 + (i * 37) % 50) for i in range(40)]
        + [("d2", i, 120) for i in range(5)],
        "dir string, file_id int, bytes long",
    )
    target = 100
    plan = plan_compaction_bins(files, "dir", "file_id", "bytes", target).collect()
    # a file's bin is its start-offset range: bins are contiguous in file order
    for d in ("d1", "d2"):
        rows = sorted((r for r in plan if r["dir"] == d), key=lambda r: r["file_id"])
        bins = [r["bin"] for r in rows]
        assert bins == sorted(bins)
        total = sum(r["bytes"] for r in rows)
        assert max(bins) + 1 <= -(-total // target)  # ≤ ceil(total/target)
    summary = summarize_bins(
        plan_compaction_bins(files, "dir", "file_id", "bytes", target), "dir"
    ).collect()
    assert sum(r["total_bytes"] for r in summary) == sum(
        r["bytes"] for r in plan
    )


def test_zonemap_never_prunes_a_matching_row(spark):
    from rdkafka_streams_spark.operators.zonemap import build_zonemap, prune_with_zonemap

    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000) for i in range(2000)], "k long, v long"
    ).withColumn("chunk", F.expr("k div 128"))
    z = prune_with_zonemap(build_zonemap(df, "chunk", ["v"]), "v", 100, 120)
    cand = {r["chunk"] for r in z.collect() if r["candidate"] == 1}
    matching = {
        r["chunk"] for r in df.where("v between 100 and 120").select("chunk").distinct().collect()
    }
    assert matching <= cand  # no false prune (correctness); candidates may over-approximate


def test_funnel_ordered_semantics(spark):
    from rdkafka_streams_spark.operators.funnel import funnel_steps

    rows = [
        # u1 completes a>b>c in order
        (1, "a", _ts("2024-01-01 10:00:00")),
        (1, "b", _ts("2024-01-01 11:00:00")),
        (1, "c", _ts("2024-01-01 12:00:00")),
        # u2 has b before a and no b after → depth 1
        (2, "b", _ts("2024-01-01 09:00:00")),
        (2, "a", _ts("2024-01-01 10:00:00")),
        # u3 same-instant a and b: strict ordering → depth 1
        (3, "a", _ts("2024-01-01 10:00:00")),
        (3, "b", _ts("2024-01-01 10:00:00")),
        # u4 never does step a → depth 0
        (4, "c", _ts("2024-01-01 10:00:00")),
    ]
    ev = spark.createDataFrame(rows, "user_id int, et string, ts timestamp")
    out = {r["step"]: r["n_users"] for r in
           funnel_steps(ev, "user_id", "et", "ts", ["a", "b", "c"]).collect()}
    assert out == {1: 3, 2: 1, 3: 1}


def test_ppjoin_matches_bruteforce(spark):
    from rdkafka_streams_spark.llm.dedup import ppjoin_pairs, token_shingles

    texts = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
        (3, "an entirely different sentence about spark shuffles and joins"),
        (4, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (5, "spark shuffles and joins require careful partitioning choices"),
    ]
    docs = spark.createDataFrame(texts, "doc_id int, text string")
    got = {
        (r["id1"], r["id2"]): r["jacc_ppm"]
        for r in ppjoin_pairs(docs, tau_ppm=400_000).collect()
    }
    # brute force over the same shingle universe
    sh = docs.select("doc_id", F.explode(token_shingles("text", 3)).alias("s"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count("*").alias("i"))
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("m"))
    expect = {}
    szm = {r["doc_id"]: r["m"] for r in sz.collect()}
    for r in inter.collect():
        un = szm[r["id1"]] + szm[r["id2"]] - r["i"]
        if r["i"] * 1_000_000 >= 400_000 * un:
            expect[(r["id1"], r["id2"])] = r["i"] * 1_000_000 // un
    assert got == expect
    assert (1, 4) in got and got[(1, 4)] == 1_000_000  # exact dup
    assert (1, 2) in got  # near-dup survives


def test_count_triangles_known_graph(spark):
    from rdkafka_streams_spark.operators.graph import count_triangles

    # K4 on {1,2,3,4} (4 triangles) + pendant 5-1 + isolated edge 6-7
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5), (6, 7)],
        "a long, b long",
    )
    r = count_triangles(edges).collect()[0]
    assert r["n_nodes"] == 7
    assert r["n_edges"] == 8
    assert r["n_triangles"] == 4
    # wedges: deg(1)=4→6, deg(2)=deg(3)=deg(4)=3→3 each, deg5/6/7=1→0 ⇒ 15
    assert r["n_wedges"] == 15
    assert r["global_clustering_ppm"] == 3 * 4 * 1_000_000 // 15


def test_fuzzy_join_dist1_matches_bruteforce(spark):
    """Deletion-neighborhood candidates must reproduce the exact dist≤1
    pair set: substitutions, insert/delete (length ±1), equal strings,
    and non-matches across blocks."""
    from rdkafka_streams_spark.operators.editdist import fuzzy_join_dist1

    rows = [
        (1, 1, "kitten"), (2, 1, "mitten"),   # substitution
        (3, 1, "kitte"),                        # deletion of id 1
        (4, 1, "kittenn"),                      # insertion on id 1
        (5, 1, "kitten"),                       # exact duplicate of id 1
        (6, 2, "kitten"),                       # same text, other block
        (7, 1, "sitting"),                      # dist 5 from kitten
        (8, 1, "aa"), (9, 1, "a"), (10, 1, ""),  # short strings + empty
    ]
    df = spark.createDataFrame(rows, "id int, blk int, s string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_join_dist1(df, key="id", text="s", block="blk").collect()
    }
    a = df.select(F.col("id").alias("ia"), F.col("blk").alias("ba"), F.col("s").alias("sa"))
    b = df.select(F.col("id").alias("ib"), F.col("blk").alias("bb"), F.col("s").alias("sb"))
    want = {
        (r["ia"], r["ib"], r["d"])
        for r in a.join(b, (F.col("ba") == F.col("bb")) & (F.col("ia") < F.col("ib")))
        .select("ia", "ib", F.levenshtein("sa", "sb").cast("bigint").alias("d"))
        .where(F.col("d") <= 1)
        .collect()
    }
    assert got == want and (1, 2, 1) in want and (9, 10, 1) in want


def test_bloom_prune_no_false_negatives_and_exact_join(spark):
    """Every true key survives pruning (no false negatives), and the
    post-prune join equals the plain join exactly."""
    from rdkafka_streams_spark.operators.bloomjoin import bloom_build, bloom_prune

    build = spark.range(0, 500, 7).select(F.col("id").alias("k"))  # 72 keys
    fact = spark.range(0, 2000).select(F.col("id").alias("k"))
    bloom = bloom_build(build, "k", n_bits=1 << 14, k=2)
    pruned = bloom_prune(fact, "k", bloom, n_bits=1 << 14, k=2)
    surviving = {r["k"] for r in pruned.collect()}
    true_keys = {r["k"] for r in build.collect()}
    assert true_keys <= surviving, "bloom dropped a true key (false negative)"
    joined = sorted(
        r["k"] for r in pruned.join(build, "k").select(pruned["k"]).collect()
    )
    plain = sorted(r["k"] for r in fact.join(build, "k").select(fact["k"]).collect())
    assert joined == plain


def test_mips_norm_augmentation_order_matches_dot(spark, sf_dir):
    """q203's scale contract: ranking by the norm-augmented cosine
    (constant-norm lift, Bachrach et al. 2014) must equal ranking by the
    raw inner product for every query — the reduction that lets cosine
    LSH/IVF infrastructure serve MIPS."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.agg(F.max(_norm("embedding")).alias("M"))
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
    )
    pairs = (
        emb.crossJoin(F.broadcast(m))
        .join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", _dot("embedding", "q_emb").alias("dot"),
            (_dot("embedding", "q_emb") / (F.col("M") * F.col("q_nrm"))).alias("aug_cos"),
        )
    )
    by_dot = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    by_aug = Window.partitionBy("q_id").orderBy(F.col("aug_cos").desc(), "vec_id")
    ranked = pairs.select(
        "q_id", "vec_id",
        F.row_number().over(by_dot).alias("r1"),
        F.row_number().over(by_aug).alias("r2"),
    )
    assert ranked.where(F.col("r1") != F.col("r2")).isEmpty()


def test_global_rank_auto_materializes_nondeterministic_input(spark):
    """VERDICT r6 hardening: with materialize=None (default) a
    non-deterministic upstream (rand()) is detected via Catalyst's
    plan.deterministic and snapshotted eagerly, so ranks are exact ranks
    of the SNAPSHOT's values and stable across repeated actions — instead
    of silently corrupt. Deterministic inputs must not snapshot (the
    detection must be a no-op for every registry call site)."""
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.operators.ranking import (
        _plan_is_deterministic,
        global_rank,
    )

    det = spark.range(100)
    nondet = det.withColumn("r", F.rand())  # seedless AND seeded rand are
    seeded = det.withColumn("r", F.rand(42))  # partition-order dependent
    assert _plan_is_deterministic(det)
    assert not _plan_is_deterministic(nondet)
    assert not _plan_is_deterministic(seeded)

    ranked = global_rank(nondet, ["r", "id"], num_partitions=8)
    first = {r["id"]: (r["r"], r["rn"]) for r in ranked.collect()}
    # exact ranks of the snapshot: rank order == value order, a permutation
    by_rank = sorted(first.values(), key=lambda t: t[1])
    assert [rn for _v, rn in by_rank] == list(range(1, 101))
    assert [v for v, _rn in by_rank] == sorted(v for v, _rn in first.values())
    second = {r["id"]: (r["r"], r["rn"]) for r in ranked.collect()}
    assert second == first  # snapshot: stable across actions


def test_learn_bpe_merges_matches_reference_implementation(spark):
    """learn_bpe_merges vs a direct in-test Sennrich BPE: same merges,
    same order, same pair counts — including the left-to-right
    non-overlapping application on repeated symbols."""
    from collections import Counter

    from rdkafka_streams_spark.llm.text import learn_bpe_merges

    corpus = ["low low lower lowest", "newest newest widest aaaa", "low newest"]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                 "doc_id int, text string")

    def ref_bpe(texts, n):
        words = Counter(w for t in texts for w in t.split() if w)
        seqs = {w: list(w) + ["¤"] for w in words}
        out = []
        for step in range(1, n + 1):
            pairs = Counter()
            for w, s in seqs.items():
                for a, b in zip(s, s[1:]):
                    pairs[(a, b)] += words[w]
            if not pairs:
                break
            (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((step, l, r, l + r, cnt))
            for w, s in seqs.items():
                ns, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        ns.append(l + r)
                        i += 2
                    else:
                        ns.append(s[i])
                        i += 1
                seqs[w] = ns
        return out

    # no persisted state survives the call (cache hygiene, q57 lesson) —
    # relative to the session's pre-call set: other suites legitimately
    # hold caller-owned caches (minhash signatures) in the shared session
    pre = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    got = [tuple(r) for r in
           learn_bpe_merges(docs, n_merges=6).orderBy("step").collect()]
    assert got == ref_bpe(corpus, 6)
    post = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert post <= pre

    # cross-symbol boundary regression: merge order (l,o) -> ... -> (o,¤)
    # while the word "lo" holds the merged SYMBOL 'lo' before '¤' — a
    # trailing-separator-only replace would match 'lo·¤'s suffix under the
    # (o,¤) rule and forge the symbol 'lo¤'; the sep-WRAPPED scheme must
    # reproduce the reference exactly instead
    corpus2 = ["low low low low low", "lo lo o o o"]
    docs2 = spark.createDataFrame([(i, t) for i, t in enumerate(corpus2)],
                                  "doc_id int, text string")
    got2 = [tuple(r) for r in
            learn_bpe_merges(docs2, n_merges=5).orderBy("step").collect()]
    ref2 = ref_bpe(corpus2, 5)
    assert got2 == ref2
    assert ("o", "¤") in [(l, r) for _, l, r, _, _ in ref2]  # the trap fired

    # separator robustness: a multi-char, regex-metachar separator learns
    # the same merges (Column-API split — a selectExpr SQL literal would
    # unescape the pattern and regex metachars would split wrongly)
    got3 = [tuple(r) for r in
            learn_bpe_merges(docs2, n_merges=3, sep="|.").orderBy("step")
            .collect()]
    assert got3 == ref2[:3]


def test_learn_byte_bpe_matches_reference_implementation(spark):
    """learn_byte_bpe vs a direct in-test byte-level BPE (GPT-2 shape):
    same pre-tokens, same hex-byte symbols, same merges and counts,
    including multi-byte UTF-8 characters whose bytes merge first and
    contraction pre-tokens from the GPT-2 regex."""
    import re as _re
    from collections import Counter

    from rdkafka_streams_spark.llm.text import learn_byte_bpe

    # ASCII-equivalent of the default pattern so Python's re (no \p{L})
    # can run the reference byte-for-byte; é is included explicitly to
    # cover a 2-byte UTF-8 letter
    pat = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-zé]+| ?[0-9]+| ?[^ \tA-Za-zé0-9]+|[ \t]+"

    def ref_byte_bpe(texts, n):
        freq = Counter()
        for t in texts:
            for m in _re.finditer(pat, t):
                if m.group(0):
                    freq[m.group(0)] += 1
        cur = {
            tuple(f"{b:02X}" for b in tok.encode("utf-8")): f
            for tok, f in freq.items()
        }
        rules = []
        for step in range(1, n + 1):
            pc = Counter()
            for syms, f in cur.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            (l, r), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            rules.append((step, l, r, l + r, cnt))
            nxt: dict = {}
            for syms, f in cur.items():
                out, i = [], 0
                while i < len(syms):  # left-to-right, non-overlapping
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                key = tuple(out)
                nxt[key] = nxt.get(key, 0) + f
            cur = nxt
        return rules

    corpus = [
        "the cat sat on the mat",
        "the cat's hat, the cat's mat!",
        "café olé café",        # multi-byte é: C3 A9 pairs must merge
        "he'll we've i'm they're don't",
        "low lower lowest low low",
        "a1 b22 c333  spaced   out",
    ]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_byte_bpe(docs, n_merges=10, pretoken_pattern=pat)
        .orderBy("step").collect()
    ]
    assert got == ref_byte_bpe(corpus, 10)
    # the default \p{L} pattern treats é as a letter (rides its word)
    docs2 = spark.createDataFrame([("olé olé",)], "text string")
    rules2 = learn_byte_bpe(docs2, n_merges=2).orderBy("step").collect()
    # " olé" (20 6F 6C C3 A9) and "olé" (6F 6C C3 A9): pairs (6F,6C),
    # (6C,C3), (C3,A9) all hit freq 2 — the (cnt DESC, l ASC, r ASC)
    # tie-break picks (6C, C3) first ("6C" < "6F" < "C3"), then the
    # merged symbol chains with A9: é's bytes travel together
    assert (rules2[0]["left"], rules2[0]["right"]) == ("6C", "C3")
    assert rules2[1]["merged"] == "6CC3A9"


def test_exact_substring_spans_and_excise(spark):
    """ExactSubstr (Lee et al. 2022) on a hand-built corpus: docs A and B
    share one 10-token run; C is unique. Expect ONE maximal span per
    sharing doc covering exactly the shared run (3 overlapping 8-token
    windows merged), and excision to cut exactly those tokens."""
    from rdkafka_streams_spark.llm.dedup import (
        exact_substring_excise,
        exact_substring_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 {shared} a3"),           # span at tokens 3..12
            (2, f"{shared} b1 b2 b3 b4"),        # span at tokens 1..10
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),   # unique, no span
        ],
        "doc_id int, text string",
    )
    spans = {
        r["doc_id"]: r
        for r in exact_substring_spans(docs, n=8).collect()
    }
    assert set(spans) == {1, 2}
    assert (spans[1]["span_start"], spans[1]["span_end"]) == (3, 12)
    assert (spans[2]["span_start"], spans[2]["span_end"]) == (1, 10)
    # 10-token run with n=8 → 3 overlapping windows merged into 1 span
    assert spans[1]["n_windows"] == 3 and spans[1]["span_tokens"] == 10
    out = {
        r["doc_id"]: r
        for r in exact_substring_excise(docs, n=8).collect()
    }
    assert out[1]["clean_text"] == "a1 a2 a3"
    assert out[2]["clean_text"] == "b1 b2 b3 b4"
    assert out[3]["clean_text"] == "c1 c2 c3 c4 c5 c6 c7 c8 c9"
    assert out[1]["n_removed"] == 10 and out[3]["n_removed"] == 0
    assert out[2]["n_tokens"] == 14


def test_exact_substring_contiguous_regions_merge(spark):
    """Two different 8-token runs duplicated from two DIFFERENT partners,
    sitting contiguously in one doc, merge into ONE excision region
    (slack=1 adjacency: contiguous duplicated text is one cut)."""
    from rdkafka_streams_spark.llm.dedup import exact_substring_spans

    r1 = " ".join(f"x{i}" for i in range(8))
    r2 = " ".join(f"y{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{r1} {r2}"),   # both runs, back to back: tokens 1..16
            (2, f"p1 {r1} p2"),  # duplicates run 1 only
            (3, f"q1 q2 {r2}"),  # duplicates run 2 only
        ],
        "doc_id int, text string",
    )
    spans = exact_substring_spans(docs, n=8).where("doc_id = 1").collect()
    assert len(spans) == 1
    assert (spans[0]["span_start"], spans[0]["span_end"]) == (1, 16)


def _merge_table(df):
    return [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in df.orderBy("step").collect()
    ]


def test_batched_bpe_equals_sequential_on_trap_corpora(spark):
    """The batched merge loop must return the IDENTICAL merge table to
    the sequential loop — on corpora built to break naive batching:

    1. interacting top pairs (shared symbols) — the batch must cut;
    2. a merge whose NEW pair immediately outranks the old runner-up
       ('abababab': merging (a,b) births (ab,ab) above everything);
    3. ties resolved by the lexicographic tie-break;
    4. merge exhaustion before n_merges.
    """
    from rdkafka_streams_spark.llm.text import learn_byte_bpe

    traps = [
        # chained letters: every top pair shares a symbol with the next
        ["aaaa aaaa aab", "aab ab b"],
        # new-pair trap: (a,b) merge creates (ab,ab) runs that dominate
        ["abababab abababab", "cd cd cd"],
        # tie trap: 'xy' and 'xz' tie on count; lex order decides
        ["xy xy xz xz", "q"],
        # exhaustion: single repeated char exhausts merges fast
        ["aa aa", "aa"],
        # SELF-pair trap (review r10): merging (a,a) births the
        # self-chain pair (aa,aa) whose only bounding old pair is
        # (a,a) itself — sequential merges (aa,aa) BEFORE (c,d); a
        # batch not terminated at the self-pair takes (c,d) first
        ["aaaaaa cd"],
        ["aaaaaaaaaa aaaaaa xy xy"],
        # mixed: multi-byte UTF-8 + contraction pre-tokens
        ["it's naïve it's naïve", "naïve test's"],
    ]
    pre = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    for i, texts in enumerate(traps):
        docs = spark.createDataFrame(
            [(j, t) for j, t in enumerate(texts)], "doc_id int, text string"
        )
        seq = _merge_table(learn_byte_bpe(docs, n_merges=8))
        for mb in (2, 16):
            bat = _merge_table(
                learn_byte_bpe(docs, n_merges=8, batched=True, max_batch=mb)
            )
            assert bat == seq, f"trap {i} max_batch={mb}: {bat} != {seq}"
    # deep multi-round trap (r11, for the incrementally MAINTAINED pair
    # table): 24 merges at max_batch=4 forces many state-update rounds —
    # counts drifting by even one in the maintained table would flip a
    # tie-break and change the merge table
    deep = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog the quick fox"),
         (1, "pack my box with five dozen liquor jugs the quick dog"),
         (2, "sphinx of black quartz judge my vow the lazy fox")],
        "doc_id int, text string",
    )
    seq24 = _merge_table(learn_byte_bpe(deep, n_merges=24))
    bat24 = _merge_table(
        learn_byte_bpe(deep, n_merges=24, batched=True, max_batch=4)
    )
    assert bat24 == seq24
    # cache hygiene: the batched loop's maintained pair table and symbol
    # table are checkpoint-managed — nothing survives the calls
    post = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert post <= pre


def test_batched_bpe_property_random_corpora(spark):
    """Property: on random small-alphabet corpora (adversarial for
    batching — tiny alphabets maximize symbol sharing), batched ==
    sequential for every max_batch."""
    import random

    from rdkafka_streams_spark.llm.text import learn_byte_bpe

    rng = random.Random(42)
    for trial in range(6):
        alpha = "ab" if trial % 2 == 0 else "abc"
        texts = [
            " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(4)
        ]
        docs = spark.createDataFrame(
            [(j, t) for j, t in enumerate(texts)], "doc_id int, text string"
        )
        seq = _merge_table(learn_byte_bpe(docs, n_merges=6))
        bat = _merge_table(
            learn_byte_bpe(docs, n_merges=6, batched=True, max_batch=8)
        )
        assert bat == seq, f"trial {trial} texts={texts}: {bat} != {seq}"


def test_byte_bpe_target_vocab_size(spark):
    """target_vocab_size derives merges the production way: vocab = 256
    base byte symbols + one per merge."""
    import pytest as _pytest

    from rdkafka_streams_spark.llm.text import learn_byte_bpe

    docs = spark.createDataFrame(
        [(0, "aaaa bbbb aaaa bbbb ab")], "doc_id int, text string"
    )
    rules = learn_byte_bpe(docs, target_vocab_size=259, batched=True)
    assert rules.count() == 3  # 259 - 256
    with _pytest.raises(ValueError, match="base alphabet"):
        learn_byte_bpe(docs, target_vocab_size=256)


def test_bpe_artifact_roundtrip(spark, tmp_path):
    """The merges.txt contract (llm/text.py save/load_bpe_artifact):
    train → save → load → encode must equal the in-session
    train-and-encode BYTE-EQUAL on both the merge table and every
    document's token count; a truncated/garbled artifact fails at load,
    not as silently wrong counts downstream."""
    import pytest

    from rdkafka_streams_spark.llm.text import (
        byte_bpe_encode_counts,
        learn_byte_bpe,
        load_bpe_artifact,
        save_bpe_artifact,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog, the dog! a cat"),
         (3, "hello world the catcat"), (4, "résumé naïve — déjà vu")],
        "doc_id long, text string",
    )
    rules_df = learn_byte_bpe(docs, n_merges=10)
    trained = [(r["step"], r["left"], r["right"], r["merged"])
               for r in rules_df.orderBy("step").collect()]
    art = str(tmp_path / "bpe")
    save_bpe_artifact(rules_df, art)
    loaded, vocab = load_bpe_artifact(art)
    assert [(r["step"], r["left"], r["right"], r["merged"])
            for r in loaded] == trained
    # vocab ids: 256 base byte symbols then one per merge, in order
    assert vocab["00"] == 0 and vocab["FF"] == 255
    assert [vocab[r["merged"]] for r in loaded] == list(
        range(256, 256 + len(loaded))
    )
    a = byte_bpe_encode_counts(docs, n_merges=10).orderBy("doc_id").collect()
    b = byte_bpe_encode_counts(docs, rules=loaded).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # a hand-truncated merges.txt (dropped line ⇒ later ids shift) fails loudly
    mt = art + "/merges.txt"
    lines = open(mt, encoding="utf-8").read().splitlines()
    open(mt, "w", encoding="utf-8").write("\n".join(lines[:1] + lines[2:]))
    with pytest.raises(ValueError, match="artifact mismatch"):
        load_bpe_artifact(art)


def test_ivfpq_refine_recall_and_exactness(spark, sf_dir):
    """IndexRefineFlat contract (llm/similarity.py
    ivfpq_refine_search_integer): (a) the refined top-k equals the EXACT
    integer-L2 ranking restricted to the ADC stage's top-R candidate set
    — the refine stage removes quantization error entirely within the
    candidates; (b) refined recall@k vs exhaustive exact search is >= raw
    ADC top-k recall (never worse, the point of paying refine_r/k)."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        _int_l2,
        ivfpq_refine_search_integer,
        ivfpq_residual_search_integer,
        quantize_global,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    kw = dict(nprobe=2, n_cells=4, coarse_iters=2, m=4, n_codes=4,
              pq_iters=2)
    adc = ivfpq_residual_search_integer(emb, queries, k=3, **kw)
    cand = ivfpq_residual_search_integer(emb, queries, k=12, **kw)
    ref = ivfpq_refine_search_integer(emb, queries, k=3, refine_r=12, **kw)

    # exact integer L2 over all pairs (tiny here), excluding self
    qv = emb.select("vec_id", quantize_global("embedding").alias("__v"))
    qs = queries.select(
        F.col("vec_id").alias("q_id"),
        quantize_global("embedding").alias("__qv"),
    )
    allp = (
        qv.crossJoin(qs).where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _int_l2("__v", "__qv").alias("d"))
    )
    exact = {}
    for r in allp.collect():
        exact.setdefault(r["q_id"], []).append((r["d"], r["vec_id"]))
    exact_top = {q: {v for _, v in sorted(ds)[:3]} for q, ds in exact.items()}
    dmap = {(r["q_id"], r["vec_id"]): r["d"] for r in allp.collect()}

    # (a) refined == exact ranking over the candidate set, distances too
    cand_rows = cand.collect()
    want = {}
    for r in cand_rows:
        want.setdefault(r["q_id"], []).append(
            (dmap[(r["q_id"], r["vec_id"])], r["vec_id"])
        )
    want = {
        q: [(v, d) for d, v in sorted(pairs)[:3]]
        for q, pairs in want.items()
    }
    got = {}
    for r in ref.orderBy("q_id", "edist", "vec_id").collect():
        got.setdefault(r["q_id"], []).append((r["vec_id"], r["edist"]))
    assert got == want, f"refine != exact-over-candidates: {got} vs {want}"

    # (b) recall never drops
    def rec(df):
        hits = tot = 0
        byq = {}
        for r in df.collect():
            byq.setdefault(r["q_id"], set()).add(r["vec_id"])
        for q, t in exact_top.items():
            hits += len(byq.get(q, set()) & t)
            tot += len(t)
        return hits / tot

    assert rec(ref) >= rec(adc), (rec(ref), rec(adc))


def test_pq_requantize_respects_scale(spark):
    """Regression (advisor r12): ``_pq_code_cols``/``_pq_dt_cols`` with
    requantize=True must quantize at the CALLER'S scale — codes and
    tables from the float-input requantize path at scale S must equal
    the pre-quantized path (quantize_global(·, S) then requantize=False)
    element-for-element. Pre-fix, requantize hardcoded 1000, so any
    trained scale != 1000 silently mis-encoded every residual."""
    from rdkafka_streams_spark.llm.similarity import (
        _pq_block_slice,
        _pq_code_cols,
        _pq_dt_cols,
        kmeans_integer,
        quantize_global,
    )

    scale, m, sub = 500, 2, 2
    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(m * sub)])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, r array<double>")
    blocks = []
    for j in range(m):
        blk = df.select(
            "vec_id", _pq_block_slice("r", j, sub).alias("r")
        )
        _, cents = kmeans_integer(
            blk, k=3, n_iters=2, scale=scale, id_col="vec_id", vec_col="r"
        )
        blocks.append(cents)
    a = df.select(
        "vec_id",
        *_pq_code_cols("r", blocks, sub, requantize=True, scale=scale),
        *_pq_dt_cols("r", blocks, sub, requantize=True, scale=scale),
    ).orderBy("vec_id").collect()
    pre = df.select("vec_id", quantize_global("r", scale).alias("__q"))
    b = pre.select(
        "vec_id",
        *_pq_code_cols("__q", blocks, sub),
        *_pq_dt_cols("__q", blocks, sub),
    ).orderBy("vec_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_nearest_centroid_tie_and_null_rules(spark):
    """``_arg_top_cids(v, cents, 1)`` is the library's nearest-centroid
    pick (k-means assignment, PQ encode, IVF cells): an exact distance
    tie goes to the smaller cid, and a NULL or short vector — NULL
    distance to every centroid — lands in the first cid."""
    from rdkafka_streams_spark.llm.similarity import _arg_top_cids

    cents = [(1, [0, 0]), (2, [10, 0]), (3, [0, 10])]
    rows = [
        (0, [5, 0]),    # 25 to cells 1 and 2 -> 1
        (1, [10, 10]),  # 100 to cells 2 and 3 -> 2
        (2, [9, 1]),    # nearest 2
        (3, [0, 11]),   # nearest 3
        (4, None),      # NULL -> 1
        (5, [7]),       # short -> 1
    ]
    df = spark.createDataFrame(rows, "id long, v array<bigint>")
    got = {
        r["id"]: r["cid"]
        for r in df.select(
            "id", _arg_top_cids("v", cents, 1)[0].alias("cid")
        ).collect()
    }
    assert got == {0: 1, 1: 2, 2: 2, 3: 3, 4: 1, 5: 1}


def test_kmeans_integer_equals_one_block_lockstep_trainer(spark, sf_dir):
    """kmeans_integer is the one-block case of the PQ trainer's lockstep
    loop: the same final centroids and the same (id, qv, cid)
    assignments as ``build_pq_codebooks_integer`` with m=1."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        build_pq_codebooks_integer,
        kmeans_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    assigned, cents = kmeans_integer(emb, k=4, n_iters=2)
    [(j, pq_assigned, pq_cents)] = build_pq_codebooks_integer(
        emb, m=1, n_codes=4, n_iters=2
    )

    def rows(df):
        return sorted(
            (r["vec_id"], tuple(r["qv"]), r["cid"])
            for r in df.select("vec_id", "qv", "cid").collect()
        )

    assert j == 0 and cents == pq_cents and len(cents) == 4
    assert rows(assigned) == rows(pq_assigned)


def test_ivfpq_residual_codebooks_match_per_slice_kmeans(spark, sf_dir):
    """By-residual IVFPQ's codebooks are one ``kmeans_integer`` per
    residual slice: its answers equal a pure-Python ADC search over
    codebooks trained that way (residual = quantized vector minus its
    nearest final coarse centroid; codes and tables on the ×scale
    re-quantized residual slices; top-k by (adist, id))."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        _pq_block_slice,
        ivfpq_residual_search_integer,
        kmeans_integer,
        quantize_global,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    k, nprobe, n_cells, m, n_codes, sub = 5, 2, 4, 4, 4, 16
    got = sorted(tuple(r) for r in ivfpq_residual_search_integer(
        emb, queries, k=k, nprobe=nprobe, n_cells=n_cells, coarse_iters=2,
        m=m, n_codes=n_codes, pq_iters=2,
    ).collect())

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def nearest(v, cents, n=1):
        return [cid for _, cid in sorted((l2(v, qc), cid) for cid, qc in cents)[:n]]

    def blocks(r):  # the j-th residual slice, re-quantized (x scale 1000)
        return [[x * 1000 for x in r[j * sub:(j + 1) * sub]] for j in range(m)]

    _, cells = kmeans_integer(emb, k=n_cells, n_iters=2)
    coarse = dict(cells)
    vecs = {
        r[0]: list(r[1])
        for r in emb.select("vec_id", quantize_global("embedding")).collect()
    }
    cell = {i: nearest(v, cells)[0] for i, v in vecs.items()}
    resid = {i: [x - y for x, y in zip(v, coarse[cell[i]])] for i, v in vecs.items()}
    rdf = spark.createDataFrame(list(resid.items()), "vec_id long, r array<bigint>")
    books = [
        kmeans_integer(
            rdf.select("vec_id", _pq_block_slice("r", j, sub).alias("r")),
            k=n_codes, n_iters=2, vec_col="r",
        )[1]
        for j in range(m)
    ]
    codes = {
        i: [nearest(b, books[j])[0] for j, b in enumerate(blocks(r))]
        for i, r in resid.items()
    }
    want = []
    for q in sorted(i for i in vecs if i % 100 == 0):
        scored = []
        for c in nearest(vecs[q], cells, nprobe):
            qb = blocks([x - y for x, y in zip(vecs[q], coarse[c])])
            tables = [{cid: l2(qb[j], qc) for cid, qc in books[j]} for j in range(m)]
            scored += [
                (sum(tables[j][codes[i][j]] for j in range(m)), i)
                for i in vecs if cell[i] == c and i != q
            ]
        want += [(q, i, d) for d, i in sorted(scored)[:k]]
    assert len(want) == 4 * k
    assert got == sorted(want)


def test_media_decode_error_gates():
    """Truncated/invalid containers fail with a clear decode error, not
    silently wrong aggregates or an opaque IndexError (advisor r12):
    a WAV with no data chunk and a Y4M whose last frame is cut short."""
    import pytest

    from rdkafka_streams_spark.llm.multimodal import (
        _decode_wav,
        _decode_y4m,
        _encode_wav,
        _encode_y4m,
    )

    wav = _encode_wav(8000, [1, -2, 3])
    # keep RIFF header + fmt chunk only (data chunk is the last 8+6 bytes)
    with pytest.raises(ValueError, match="missing data chunk"):
        _decode_wav(wav[: wav.index(b"data")])
    ok = _decode_wav(wav)
    assert ok[3] == [1, -2, 3]

    y = bytes(range(16)) * 3  # 8x6 luma
    u = bytes([7]) * 12
    v = bytes([9]) * 12
    clip = _encode_y4m(8, 6, [(y, u, v), (y, u, v)])
    with pytest.raises(ValueError, match="truncated y4m"):
        _decode_y4m(clip[:-5])
    w, h, frames = _decode_y4m(clip)
    assert (w, h, len(frames)) == (8, 6, 2)


def test_bigram_lm_index_scorer_matches_self_trained(spark, sf_dir):
    """On the training corpus itself every bigram is in the saved counts,
    so ``bigram_lm_score_with_index(docs, *bigram_lm_index(docs))`` must
    equal ``bigram_lm_scores(docs)`` bit for bit (the LEFT joins
    degenerate to inner, the micro-nat snapping is shared) — pinning
    that the saved-LM path introduces no formula drift. Also pins the
    novel-bigram price: a doc of tokens the LM never saw scores exactly
    n·floor(ln(V)·1e6 + 0.5)/n (every bigram at 1/V)."""
    import math

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import (
        bigram_lm_index,
        bigram_lm_score_with_index,
        bigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    idx = bigram_lm_index(docs)
    a = {
        r["doc_id"]: (r["n_bigrams"], r["score_micro"])
        for r in bigram_lm_score_with_index(docs, *idx).collect()
    }
    b = {
        r["doc_id"]: (r["n_bigrams"], int(round(r["xent"] * 1_000_000)))
        for r in bigram_lm_scores(docs).collect()
    }
    assert a == b

    novel = spark.createDataFrame(
        [(1, "zzq yyx wwv uuk ttj")], "doc_id bigint, text string"
    )
    got = bigram_lm_score_with_index(novel, *idx).first()
    v = int(idx[2].first()["v"])
    assert got["n_bigrams"] == 4
    assert got["score_micro"] == math.floor(math.log(v) * 1_000_000 + 0.5)


def test_sq8_recall_and_reconstruction_bounds(spark, sf_dir):
    """SQ8 contracts (llm/similarity.py sq8_search_integer): (a) codes
    lie in [0, 255] and the fixed-point reconstruction of every corpus
    vector is within one quantization step (span_d/255, x255 units) of
    the true value per dimension; (b) recall@3 vs exact integer L2 beats
    the degenerate 1-bit quantizer (same pipeline, codes collapsed to
    0/255) — resolution must buy accuracy."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        _int_l2,
        quantize_global,
        sq8_search_integer,
        sq8_train_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    queries = emb.where(F.col("vec_id") % 60 == 0)
    vmin, vmax = sq8_train_integer(emb)
    lo = F.array(*[F.lit(v).cast("long") for v in vmin])
    span = F.array(*[F.lit(hi - lo_).cast("long")
                     for lo_, hi in zip(vmin, vmax)])
    qv = quantize_global("embedding")
    codes = F.zip_with(
        F.zip_with(qv, lo, lambda a, b: a - b), span,
        lambda d, s: F.when(s == 0, F.lit(0).cast("long"))
        .otherwise(F.floor(d * 255 / s).cast("long")),
    )
    recon = F.zip_with(
        F.zip_with(codes, span, lambda c, s: c * s), lo,
        lambda cs, b: cs + b * 255,
    )
    err = F.zip_with(
        F.zip_with(F.transform(qv, lambda x: x * 255), recon,
                   lambda a, b: F.abs(a - b)),
        span, lambda e, s: (e <= s).cast("int"),
    )
    r = emb.select(
        F.min(F.array_min(codes)).alias("cmin"),
        F.max(F.array_max(codes)).alias("cmax"),
        F.min(F.array_min(err)).alias("ok"),
    ).first()
    assert 0 <= r["cmin"] and r["cmax"] <= 255
    assert r["ok"] == 1, "reconstruction off by more than one step"

    qs = queries.select(F.col("vec_id").alias("q_id"),
                        quantize_global("embedding").alias("__qv"))
    allp = (
        emb.select("vec_id", quantize_global("embedding").alias("__v"))
        .crossJoin(qs).where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _int_l2("__v", "__qv").alias("d"))
    )
    exact = {}
    for row in allp.collect():
        exact.setdefault(row["q_id"], []).append((row["d"], row["vec_id"]))
    etop = {q: {v for _, v in sorted(ds)[:3]} for q, ds in exact.items()}

    def recall(df):
        byq = {}
        for row in df.collect():
            byq.setdefault(row["q_id"], set()).add(row["vec_id"])
        return sum(len(byq.get(q, set()) & t) for q, t in etop.items()) / (
            3 * len(etop)
        )

    r8 = recall(sq8_search_integer(emb, queries, k=3))
    # 8-bit codes quantize the ~[-1,1] fixture dims to ~0.8% steps, so
    # flat SQ should recall most of the exact top-3 even on near-random
    # vectors (measured ~0.9); 0.5 is the non-degeneracy floor
    assert r8 >= 0.5, f"SQ8 recall degenerate: {r8}"


def test_global_cumsum_matches_serial_window(spark):
    """operators/ranking.py global_cumsum == the partition-less
    SUM() OVER (ORDER BY …) it replaces, across many range partitions
    and including zero/negative values and ties broken by the key."""
    from rdkafka_streams_spark.operators.ranking import global_cumsum

    rows = [(i, ((i * 37) % 11) - 3) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    got = {
        r["k"]: r["cumsum"]
        for r in global_cumsum(
            df, ["k"], "v", num_partitions=16
        ).collect()
    }
    acc, want = 0, {}
    for k, v in rows:
        acc += v
        want[k] = acc
    assert got == want


def test_sq8_saved_state_roundtrip(spark, sf_dir, tmp_path):
    """The saved-index contract applied to SQ8: the trained state is
    2·dim longs, saved as plain JSON, and a search against the LOADED
    state equals the in-session train-and-search row for row — no
    corpus rescan at serve time."""
    import json

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        sq8_search_integer,
        sq8_train_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    queries = emb.where(F.col("vec_id") % 60 == 0)
    vmin, vmax = sq8_train_integer(emb)
    p = tmp_path / "sq8_state.json"
    p.write_text(json.dumps({"vmin": vmin, "vmax": vmax}))
    loaded = json.loads(p.read_text())
    a = sorted(
        tuple(r) for r in sq8_search_integer(emb, queries, k=3).collect()
    )
    b = sorted(
        tuple(r)
        for r in sq8_search_integer(
            emb, queries, k=3, state=(loaded["vmin"], loaded["vmax"])
        ).collect()
    )
    assert a == b and len(a) == 3 * queries.count()


def test_token_budget_waterfill_invariants(spark):
    """Waterfilling contracts (operators/sampling.py
    token_budget_waterfill): capped groups sit exactly at their cap;
    no uncapped group exceeds its cap; total allocation never exceeds
    the budget and leaves at most a floor-division remainder behind
    when nothing more can bind; a budget below every cap reduces to the
    plain proportional split."""
    from rdkafka_streams_spark.operators.sampling import (
        token_budget_waterfill,
    )

    rows = [("a", 1_000_000, 500), ("b", 1_000_000, 5_000),
            ("c", 2_000_000, 50_000), ("d", 500_000, 800)]
    df = spark.createDataFrame(rows, "g string, m bigint, cap bigint")
    out = {r["g"]: r for r in token_budget_waterfill(
        df, "g", "m", "cap", budget=10_000, rounds=6).collect()}
    caps = dict((g, c) for g, _, c in rows)
    assert {g for g, r in out.items() if r["capped"]} == {"a", "d"}
    for g, r in out.items():
        if r["capped"]:
            assert r["alloc"] == caps[g]
        else:
            assert r["alloc"] <= caps[g]
    total = sum(r["alloc"] for r in out.values())
    assert total <= 10_000
    # remainder is only floor-division dust: strictly less than the
    # number of uncapped groups
    assert 10_000 - total < sum(1 for r in out.values() if not r["capped"])

    low = {r["g"]: r for r in token_budget_waterfill(
        df, "g", "m", "cap", budget=400, rounds=6).collect()}
    m_tot = sum(m for _, m, _ in rows)
    for g, m, _ in rows:
        assert not low[g]["capped"] and low[g]["alloc"] == 400 * m // m_tot


def test_sq8_stale_state_saturates(spark, sf_dir):
    """A SAVED SQ8 state trained on a SUBSET meets out-of-range vectors
    (the incremental-serve reality): codes must SATURATE at [0, 255]
    (the FAISS rule), never extrapolate the reconstruction — pinned by
    running the full corpus against a state trained on a narrow slice
    and checking every returned distance is still the one the saturated
    reconstruction implies (non-negative, finite, complete top-k)."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        sq8_search_integer,
        sq8_train_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    narrow = sq8_train_integer(emb.where(F.col("vec_id") < 30))
    queries = emb.where(F.col("vec_id") % 60 == 0)
    out = sq8_search_integer(emb, queries, k=3, state=narrow).collect()
    assert len(out) == 3 * queries.count()
    assert all(r["sdist"] >= 0 for r in out)
    # saturation ceiling: per-dim residual is bounded by the query's
    # distance to the clamped reconstruction range — if codes
    # extrapolated instead, distances on the widest out-of-range dims
    # would blow past this bound
    vmin, vmax = narrow
    full_vmin, full_vmax = sq8_train_integer(emb)
    bound = sum(
        (255 * max(abs(fl - lo), abs(fh - lo), abs(fl - hi), abs(fh - hi),
                   hi - lo)) ** 2
        for lo, hi, fl, fh in zip(vmin, vmax, full_vmin, full_vmax)
    )
    assert all(r["sdist"] <= bound for r in out)


def test_exact_rerank_composes_over_ivfsq(spark, sf_dir):
    """exact_rerank_integer is index-agnostic: refining IVFSQ's top-12
    equals the exact integer-L2 ranking restricted to those candidates
    (the q316 contract, reached through a different compressed index),
    and recall@3 never drops below raw IVFSQ top-3."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        _int_l2,
        exact_rerank_integer,
        ivfsq_search_integer,
        quantize_global,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    cand = ivfsq_search_integer(emb, queries, k=12, nprobe=2, n_cells=4,
                                coarse_iters=2)
    ref = exact_rerank_integer(emb, queries, cand, k=3)

    qv = emb.select("vec_id", quantize_global("embedding").alias("__v"))
    qs = queries.select(F.col("vec_id").alias("q_id"),
                        quantize_global("embedding").alias("__qv"))
    dmap = {
        (r["q_id"], r["vec_id"]): r["d"]
        for r in qv.crossJoin(qs)
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _int_l2("__v", "__qv").alias("d"))
        .collect()
    }
    want = {}
    for r in cand.collect():
        want.setdefault(r["q_id"], []).append(
            (dmap[(r["q_id"], r["vec_id"])], r["vec_id"])
        )
    want = {q: [(v, d) for d, v in sorted(p)[:3]] for q, p in want.items()}
    got = {}
    for r in ref.orderBy("q_id", "edist", "vec_id").collect():
        got.setdefault(r["q_id"], []).append((r["vec_id"], r["edist"]))
    assert got == want


def test_countmin_never_underestimates(spark, sf_dir):
    """CM's defining property: est >= true for EVERY queried token (each
    of its cells holds its count plus collisions), with equality exactly
    when none of the token's depth cells collides; and the estimate
    equals the true count for a token given its own sketch row when the
    table is collision-free (tiny corpus, wide table)."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import countmin_token_counts

    docs = load_table(spark, sf_dir, "documents").limit(300)
    out = countmin_token_counts(docs, top_n=30).collect()
    assert len(out) == 30
    assert all(r["cm_est"] >= r["true_cnt"] for r in out)

    tiny = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma alpha")],
        "doc_id bigint, text string",
    )
    got = {r["tok"]: (r["true_cnt"], r["cm_est"])
           for r in countmin_token_counts(tiny, top_n=3).collect()}
    # 3 distinct tokens in a 4x256 table: collisions need two tokens
    # sharing a cell in EVERY row -- (1/256)^4-scale, impossible here
    assert got == {"alpha": (3, 3), "beta": (1, 1), "gamma": (1, 1)}


def test_countmin_table_mergeable(spark, sf_dir):
    """CM's production property: the tables of two corpus shards combine
    by CELL-WISE ADD into exactly the whole corpus's table — why a 1 KB
    sketch per partition/day rolls up with one tiny agg and no re-scan."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import countmin_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    merged = {
        (r["r"], r["cell"]): r["t"]
        for r in countmin_table(a).unionAll(countmin_table(b))
        .groupBy("r", "cell").agg(F.sum("tot").alias("t")).collect()
    }
    whole = {
        (r["r"], r["cell"]): r["tot"]
        for r in countmin_table(docs).collect()
    }
    assert merged == whole and len(whole) > 0


def test_ann_saved_index_roundtrip_and_validation(spark, sf_dir, tmp_path):
    """ANN artifact contract (llm/similarity.py save_ann_index /
    load_ann_index): (a) the full train→save→load→search path equals
    in-session train→search row for row for BOTH IVF+SQ and IVF+PQ —
    the JSON round-trip is exact because every component is bigints;
    (b) a truncated/foreign artifact fails loudly at load; (c) a saved
    codebook block-count mismatch fails loudly at search."""
    import pytest as _pytest

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        build_pq_codebooks_integer,
        ivfpq_search_integer,
        ivfsq_search_integer,
        kmeans_integer,
        load_ann_index,
        save_ann_index,
        sq8_train_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    queries = emb.where(F.col("vec_id") % 60 == 0)
    _a, cents = kmeans_integer(emb, k=4, n_iters=2)
    sq = sq8_train_integer(emb)
    cbs = [c for _, _, c in
           build_pq_codebooks_integer(emb, m=4, n_codes=4, n_iters=1)]
    art = str(tmp_path / "ann")
    save_ann_index(art, scale=1000, coarse_centroids=cents,
                   pq_codebooks=cbs, sq_state=sq)
    idx = load_ann_index(art)
    assert idx["scale"] == 1000 and idx["by_residual"] is False

    a = sorted(tuple(r) for r in ivfsq_search_integer(
        emb, queries, k=3, nprobe=2, n_cells=4, coarse_iters=2,
    ).collect())
    b = sorted(tuple(r) for r in ivfsq_search_integer(
        emb, queries, k=3, nprobe=2,
        state=idx["sq"], coarse=idx["coarse"],
    ).collect())
    assert a == b and len(a) == 3 * queries.count()

    c = sorted(tuple(r) for r in ivfpq_search_integer(
        emb, queries, k=3, nprobe=2, n_cells=4, coarse_iters=2,
        m=4, n_codes=4, pq_iters=1,
    ).collect())
    d = sorted(tuple(r) for r in ivfpq_search_integer(
        emb, queries, k=3, nprobe=2, m=4,
        coarse=idx["coarse"], codebooks=idx["pq"],
    ).collect())
    assert c == d and len(c) == 3 * queries.count()

    with _pytest.raises(ValueError, match="m=4 blocks, caller asked m=2"):
        ivfpq_search_integer(emb, queries, m=2, coarse=idx["coarse"],
                             codebooks=idx["pq"])
    import json as _json
    import os as _os
    bad = str(tmp_path / "bad")
    _os.makedirs(bad)
    with open(_os.path.join(bad, "ann_index.json"), "w") as f:
        _json.dump({"format": "something-else", "scale": 1}, f)
    with _pytest.raises(ValueError, match="not an ANN index artifact"):
        load_ann_index(bad)

    # (d) serve-side guards (review r13): the index= path resolves
    # components AND validates — forgetting to thread idx['scale']
    # raises instead of returning silently wrong neighbors, and an
    # index trained on different-dim vectors is rejected against this
    # corpus; index= with the right scale equals the components path.
    e = sorted(tuple(r) for r in ivfsq_search_integer(
        emb, queries, k=3, nprobe=2, scale=idx["scale"], index=idx,
    ).collect())
    assert e == b
    assert idx["dim"] == len(cents[0][1])  # artifact stamps trained dim
    with _pytest.raises(ValueError, match="trained at scale=1000"):
        ivfsq_search_integer(emb, queries, scale=500, index=idx)
    with _pytest.raises(ValueError, match="trained at scale=1000"):
        ivfpq_search_integer(emb, queries, m=4, scale=999, index=idx)
    narrow = emb.select(
        "vec_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with _pytest.raises(ValueError, match="dimensional"):
        ivfsq_search_integer(narrow, queries, scale=1000, index=idx)
    # mixed-up artifact: components that disagree on dim fail at save
    with _pytest.raises(ValueError, match="disagree on dimensionality"):
        save_ann_index(str(tmp_path / "mixed"), scale=1000,
                       coarse_centroids=cents,
                       sq_state=(sq[0][:3], sq[1][:3]))


def test_hdr_histogram_merge_and_bounds(spark, sf_dir):
    """HDR quantile-sketch contracts (llm/text.py hdr_histogram_table):
    (a) MERGEABILITY — shard tables cell-wise ADD into exactly the
    whole corpus's table (the ship-only-sketches posture); (b) the
    bucket expression matches the bit-arithmetic reference and is
    monotonic, and every value lands inside its decoded [lb, ub] cell;
    (c) quantile estimates from the table contain the exact order
    statistic, and the cell's relative width respects the 2**(1-s)
    bound."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import (
        hdr_bucket_expr,
        hdr_histogram_table,
        hdr_lb_expr,
        hdr_quantiles,
        hdr_width_expr,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    whole = {r["idx"]: r["cnt"]
             for r in hdr_histogram_table(d, "n").collect()}
    sa = {r["idx"]: r["cnt"] for r in hdr_histogram_table(
        d.where("doc_id % 2 = 0"), "n").collect()}
    sb = {r["idx"]: r["cnt"] for r in hdr_histogram_table(
        d.where("doc_id % 2 = 1"), "n").collect()}
    merged = {i: sa.get(i, 0) + sb.get(i, 0) for i in set(sa) | set(sb)}
    assert merged == whole  # cell-wise add == whole, exactly

    # bucket expr vs pure-python bit arithmetic + containment + monotone
    s = 5
    vals = [0, 1, 2, 31, 32, 33, 63, 64, 65, 100, 127, 128, 129, 1000,
            4095, 4096, 65535, 10**6, 10**9]
    vdf = spark.createDataFrame([(v,) for v in vals], "v bigint")
    got = vdf.selectExpr(
        "v",
        hdr_bucket_expr("v") + " AS idx",
    ).selectExpr(
        "v", "idx",
        hdr_lb_expr("idx") + " AS lb",
        hdr_width_expr("idx") + " AS w",
    ).collect()

    def pyidx(v):
        if v < 2 ** s:
            return v
        m = v.bit_length()
        return 2 ** s + (m - s - 1) * 2 ** (s - 1) + (
            (v - 2 ** (m - 1)) >> (m - s)
        )

    prev = -1
    for r in sorted(got, key=lambda r: r["v"]):
        assert r["idx"] == pyidx(r["v"])
        assert r["lb"] <= r["v"] <= r["lb"] + r["w"] - 1
        assert r["idx"] >= prev  # monotone in v
        prev = r["idx"]
        if r["v"] >= 2 ** s:
            assert (r["w"] - 1) * 2 ** (s - 1) <= r["lb"]  # rel err bound

    # quantile containment: exact order statistic inside the cell
    tbl = hdr_histogram_table(d, "n")
    est = {r["q_permille"]: (r["est_lo"], r["est_hi"])
           for r in hdr_quantiles(tbl, [250, 500, 900]).collect()}
    ns = sorted(r["n"] for r in d.collect())
    for q, (lo, hi) in est.items():
        exact = ns[(q * len(ns) + 999) // 1000 - 1]
        assert lo <= exact <= hi, (q, lo, exact, hi)


def test_decontaminate_incremental_equals_batch_when_uncapped(spark, sf_dir):
    """With both df caps disabled, the saved-eval-index incremental
    sweep must produce exactly the batch `decontaminate` pairs — the
    two differ ONLY in which side the boilerplate cap applies to
    (train-df for the batch sweep, eval-df at index build for the
    incremental one)."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.dedup import (
        decontaminate,
        decontaminate_incremental,
        eval_shingle_index,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    train = d.where("doc_id % 10 <> 0")
    ev = d.where("doc_id % 10 = 0")
    batch = sorted(
        tuple(r)
        for r in decontaminate(train, ev, n=3, min_shared=3,
                               max_df=10**9).collect()
    )
    ix = eval_shingle_index(ev, n=3, max_eval_df=10**9)
    inc = sorted(
        tuple(r)
        for r in decontaminate_incremental(ix, train, n=3,
                                           min_shared=3).collect()
    )
    assert inc == batch and len(inc) > 0


def test_beam_search_matches_pure_python_reference(spark):
    """Graph-ANN property (llm/similarity.py nsw_graph_integer /
    beam_search_integer): the distributed build+walk equals an
    INDEPENDENT pure-Python implementation of the same spec —
    multi-assign to the 2 nearest cells, top-r edges among cell-mates,
    star bridges, fixed-beam fixed-hop best-first with (dist, id) tie
    breaks — on a synthetic corpus, for several (r, beam, hops) combos.
    Also pins the navigability invariant: every node is within
    2 + hops-needed reach of the hub via bridges (every rank-1 cell rep
    is 1 hop from the hub)."""
    import numpy as np

    from rdkafka_streams_spark.llm.similarity import (
        beam_search_integer,
        kmeans_integer,
        nsw_graph_integer,
    )

    rng = np.random.RandomState(7)
    n, dim = 60, 8
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    queries = emb.where(F.col("vec_id") % 17 == 0)
    n_cells, n_iters, scale = 4, 2, 1000
    assigned, cents = kmeans_integer(
        emb, k=n_cells, n_iters=n_iters, scale=scale
    )

    # ---- pure-Python reference (independent of the Spark code paths)
    qv = {i: [int(np.floor(float(x) * scale + 0.5)) for x in vecs[i]]
          for i in range(n)}

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def ref_edges(r, na=2):
        cid_of = {}
        for i in range(n):
            ranked = sorted((l2(qv[i], qc), cid) for cid, qc in cents)
            cid_of[i] = [cid for _, cid in ranked[:na]]
        edges = set()
        for i in range(n):
            mates = {j for j in range(n) if j != i
                     and set(cid_of[j][:na]) & set(cid_of[i][:na])}
            ranked = sorted((l2(qv[i], qv[j]), j) for j in mates)
            edges |= {(i, j) for _, j in ranked[:r]}
        reps = {}
        for i in range(n):
            c1 = cid_of[i][0]
            reps[c1] = min(reps.get(c1, i), i)
        hub = min(reps.values())
        for rep in reps.values():
            if rep != hub:
                edges |= {(hub, rep), (rep, hub)}
        return edges

    def ref_beam(edges, q, k, beam, hops):
        adj = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        bm = {0}  # hub == min id == 0
        for _ in range(hops):
            cand = set(bm)
            for node in bm:
                cand |= set(adj.get(node, []))
            ranked = sorted((l2(qv[q], qv[node]), node) for node in cand)
            bm = {node for _, node in ranked[:beam]}
        out = sorted((l2(qv[q], qv[node]), node)
                     for node in bm if node != q)
        return [(q, node, d) for d, node in out[:k]]

    for r, beam, hops in ((4, 6, 3), (8, 16, 4), (3, 4, 2)):
        edges_df = nsw_graph_integer(
            emb, r=r, n_assign=2, scale=scale, coarse=cents
        )
        got_edges = {(row["src"], row["dst"])
                     for row in edges_df.collect()}
        assert got_edges == ref_edges(r), f"edge set differs at r={r}"
        got = sorted(
            tuple(row) for row in beam_search_integer(
                emb, queries, k=3, beam=beam, hops=hops, r=r,
                n_assign=2, n_cells=n_cells, n_iters=n_iters, scale=scale,
            ).collect()
        )
        want = sorted(
            t for q in (0, 17, 34, 51) for t in ref_beam(
                ref_edges(r), q, k=3, beam=beam, hops=hops
            )
        )
        assert got == want, f"beam walk differs at r={r} W={beam} H={hops}"

    # navigability: hub reaches every node's rank-1 rep in one hop
    edges = ref_edges(4)
    hub_out = {d for s, d in edges if s == 0}
    reps = {d for s, d in edges if s == 0} | {0}
    assert all((0, rep) in edges or rep == 0 for rep in reps)
    assert len(hub_out) >= 1


def test_exact_substring_min_len_matches_suffix_scan(spark):
    """Variable-length ExactSubstr property (llm/dedup.py
    exact_substring_spans / exact_substring_excise, min_len=) vs an
    INDEPENDENT pure-Python suffix scan computing true Lee et al.
    coverage — every (doc, position) inside a maximal cross-doc
    duplicated token run of >= L:

    (a) EXACT regime (n == L): the operator's excised position set
        EQUALS the true coverage (the window⇄substring containment
        argument in the docstring, here verified, not assumed);
    (b) MULTI-RESOLUTION regime (n < L, one shared fine index): the
        operator's set is a SUPERSET (recall 1 — never misses a true
        duplicate), the documented over-excision trade;
    (c) the excision row counts agree with the position sets."""
    import random

    from rdkafka_streams_spark.llm.dedup import (
        exact_substring_excise,
        exact_substring_spans,
    )

    rng = random.Random(13)
    alpha = [f"w{c}" for c in "abcdefgh"]
    docs = {i: [rng.choice(alpha) for _ in range(40)] for i in range(6)}
    # plant shared phrases of assorted lengths at assorted offsets
    for ln, (d1, o1), (d2, o2) in (
        (3, (0, 5), (1, 20)),
        (5, (2, 0), (3, 30)),
        (7, (1, 3), (4, 12)),
        (10, (0, 25), (5, 8)),
        (6, (2, 18), (5, 25)),
    ):
        phrase = [f"p{ln}_{j}" for j in range(ln)]
        docs[d1][o1:o1 + ln] = phrase
        docs[d2][o2:o2 + ln] = phrase

    def ref_coverage(L):
        cov = set()
        ids = sorted(docs)
        for a in ids:
            for b in ids:
                if a == b:
                    continue
                ta, tb = docs[a], docs[b]
                # maximal common run DP (the suffix-scan ground truth)
                run = [[0] * (len(tb) + 1) for _ in range(len(ta) + 1)]
                for i in range(1, len(ta) + 1):
                    for j in range(1, len(tb) + 1):
                        if ta[i - 1] == tb[j - 1]:
                            run[i][j] = run[i - 1][j - 1] + 1
                for i in range(1, len(ta) + 1):
                    for j in range(1, len(tb) + 1):
                        m = run[i][j]
                        ended = (i == len(ta) or j == len(tb)
                                 or ta[i] != tb[j])
                        if m >= L and ended:  # maximal run of length m
                            cov |= {(a, p) for p in range(i - m + 1, i + 1)}
        return cov

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in sorted(docs.items())],
        "doc_id bigint, text string",
    )

    def op_coverage(n, min_len):
        spans = exact_substring_spans(df, n=n, min_len=min_len).collect()
        return {
            (row["doc_id"], p)
            for row in spans
            for p in range(row["span_start"], row["span_end"] + 1)
        }

    for L in (4, 6):
        truth = ref_coverage(L)
        exact = op_coverage(n=L, min_len=L)
        assert exact == truth, f"exact regime diverges at L={L}"
        multi = op_coverage(n=3, min_len=L)
        assert multi >= truth, f"multi-res regime missed truth at L={L}"
        # (c) excision agrees with the position sets, both regimes
        removed = {
            row["doc_id"]: row["n_removed"]
            for row in exact_substring_excise(df, n=L).collect()
        }
        per_doc = {i: sum(1 for d, _ in truth if d == i) for i in docs}
        assert removed == per_doc
        removed_multi = {
            row["doc_id"]: row["n_removed"]
            for row in exact_substring_excise(df, n=3, min_len=L).collect()
        }
        mult_per_doc = {i: sum(1 for d, _ in multi if d == i) for i in docs}
        assert removed_multi == mult_per_doc
    assert len(ref_coverage(4)) > len(ref_coverage(6)) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="below the window size"):
        exact_substring_spans(df, n=8, min_len=4)


def test_hilbert_key_matches_reference_and_is_bijective(spark):
    """Hilbert key contract (operators/zorder.py hilbert_key): (a) equals
    an independent Python xy2d walk on the full 16x16 grid, (b) is a
    BIJECTION of the grid onto [0, 2^(2·bits)) — the property that makes
    it a clustering key at all, (c) consecutive curve positions are
    always GRID NEIGHBORS (|dx|+|dy| = 1) — the no-diagonal-jump
    locality Morton lacks (q341 measures what that buys), and (d) the
    guard rejects keys that would overflow a long."""
    import itertools

    import pytest as _pytest

    from rdkafka_streams_spark.operators.zorder import hilbert_key

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = list(itertools.product(range(16), range(16)))
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in df.select(
            "x", "y", hilbert_key("x", "y", bits=4).alias("h")
        ).collect()
    }
    assert got == {(x, y): xy2d(16, x, y) for x, y in pts}
    assert sorted(got.values()) == list(range(256))
    by_d = {d: xy for xy, d in got.items()}
    assert all(
        abs(by_d[d][0] - by_d[d + 1][0]) + abs(by_d[d][1] - by_d[d + 1][1])
        == 1
        for d in range(255)
    )
    with _pytest.raises(ValueError, match="<= 60"):
        hilbert_key("x", "y", bits=31)


def test_epoch_reshuffle_distinct_permutations_and_resume(spark):
    """q344's epoch contract: (a) each epoch's md5(doc:epoch) order is a
    PERMUTATION of the corpus, (b) different epochs give DIFFERENT
    orders (the epoch number is the seed — a broken concat collapses
    them), (c) dataloader_resume composes unchanged within an epoch:
    resume(c) is the exact suffix of that epoch's full order."""
    from rdkafka_streams_spark.operators.ranking import (
        dataloader_resume,
        global_rank,
    )

    d = spark.createDataFrame(
        [(i,) for i in range(1, 41)], "doc_id bigint"
    )
    orders = {}
    for epoch in range(3):
        ranked = global_rank(
            d.withColumn(
                "ord",
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                                  F.lit(str(epoch)))),
            ),
            ["ord", "doc_id"],
            rank_col="pos",
        )
        rows = sorted((r["pos"], r["doc_id"]) for r in ranked.collect())
        assert [p for p, _ in rows] == list(range(1, 41))   # permutation
        orders[epoch] = [doc for _, doc in rows]
        rem = sorted(
            (r["shard"], r["ordinal"], r["doc_id"])
            for r in dataloader_resume(
                ranked, 4, {0: 2, 1: 0, 2: 5, 3: 1}
            ).collect()
        )
        want = sorted(
            ((pos - 1) % 4, (pos - 1) // 4 + 1, doc)
            for pos, doc in rows
            if (pos - 1) // 4 + 1 > {0: 2, 1: 0, 2: 5, 3: 1}[(pos - 1) % 4]
        )
        assert rem == want
    assert orders[0] != orders[1] != orders[2] != orders[0]
    assert sorted(orders[0]) == sorted(orders[1]) == sorted(orders[2])


def _split_bkt(doc_id: int) -> int:
    import hashlib as _h

    return int(_h.md5(str(doc_id).encode()).hexdigest()[:2], 16)


def test_nb_classifier_separates_classes_on_heldout(spark):
    """The NB margin must classify held-out docs whose vocabulary matches
    their class's training vocabulary; eval docs are the md5 two-nibble
    bkt >= 204 split, so the test derives the split the same way."""
    from rdkafka_streams_spark.llm.text import nb_quality_classifier

    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, "good nice fine clean solid", "en"))
        else:
            rows.append((i, "spam junk bad noisy broken", "xx"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           nb_quality_classifier(docs, F.col("lang") == "en").collect()}
    eval_ids = {i for i in range(60) if _split_bkt(i) >= 204}
    assert set(out) == eval_ids, "exactly the held-out split is scored"
    assert len(eval_ids) >= 4, "fixture must land docs in the eval split"
    for i, r in out.items():
        assert r["pred"] == r["actual"] == (1 if i % 2 == 0 else 0), (i, r)
        assert (r["margin"] > 0) == (i % 2 == 0)


def test_nb_classifier_prices_unseen_buckets_dense(spark):
    """A held-out doc carrying a feature NEVER seen in training must still
    have that feature scored (dense Laplace table), not dropped: n_feats
    counts every feature incl. bigrams."""
    from rdkafka_streams_spark.llm.text import nb_quality_classifier

    eval_id = next(i for i in range(1000) if _split_bkt(i) >= 204)
    train_ids = [i for i in range(1000) if _split_bkt(i) < 204][:6]
    rows = [(i, "plain text here", "en" if k % 2 == 0 else "xx")
            for k, i in enumerate(train_ids)]
    rows.append((eval_id, "utterlyunseen tokenhere", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           nb_quality_classifier(docs, F.col("lang") == "en").collect()}
    # 2 unigrams + 1 bigram, all unseen in training, all priced
    assert out[eval_id]["n_feats"] == 3


def test_source_lm_ablation_signs_and_invariants(spark):
    """Removing the source that supplies the held-out text's bigram mass
    must RAISE held-out xent (delta > 0); removing a source whose tokens
    never appear held-out leaves every term untouched (delta == 0, V is
    fixed-full-vocab by design); n_heldout_bigrams is ablation-invariant."""
    from rdkafka_streams_spark.llm.text import source_lm_ablation

    rows = []
    for i in range(90):
        if _split_bkt(i) >= 229:  # held-out: the 'a b' distribution
            rows.append((i, "a b a b a b", "whatever"))
        elif i % 3 == 2:
            rows.append((i, "x y z w v u", "srcC"))  # disjoint junk
        elif i % 3 == 1:
            rows.append((i, "a b a b", "srcB"))
        else:
            rows.append((i, "a b a b a", "srcA"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in source_lm_ablation(docs).collect()}
    assert set(out) == {"srcA", "srcB", "srcC"}
    nh = {r["n_heldout_bigrams"] for r in out.values()}
    assert len(nh) == 1 and nh.pop() > 0
    assert out["srcA"]["delta"] > 0, out["srcA"]
    assert out["srcB"]["delta"] > 0, out["srcB"]
    assert out["srcC"]["delta"] == 0.0, out["srcC"]
    for r in out.values():
        assert r["xent_loo"] >= r["xent_full"] - 1e-9


def test_pca_top_component_matches_numpy_direction(spark):
    """The integer power iteration must align with numpy's exact top
    eigenvector of the same co-moment (cosine ≥ 0.999 after 8
    digit-shift-renormalized iterations) and canonicalize sign (the
    largest-|loading| dim positive)."""
    import numpy as np

    from rdkafka_streams_spark.llm.pca import pca_top_component

    rng = np.random.RandomState(11)
    n, dim = 80, 6
    t = rng.randn(n)
    direction = np.array([3.0, 1.0, 0.0, 0.5, 0.0, 0.0])
    vecs = np.outer(t, direction) + 0.05 * rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    _, v = pca_top_component(emb)
    q = np.floor(vecs * 1000.0 + 0.5)
    m = len(q) * (q.T @ q) - np.outer(q.sum(0), q.sum(0))
    w, ev = np.linalg.eigh(m)
    top = ev[:, -1]
    vv = np.array(v, dtype=float)
    cos = abs(vv @ top) / (np.linalg.norm(vv) * np.linalg.norm(top))
    assert cos >= 0.999, cos
    j = int(np.argmax(np.abs(vv)))
    assert vv[j] > 0, "canonical sign: largest-|loading| dim positive"


def test_pca_project_stats_exact(spark):
    """project_stats computes exact integer dot products per group."""
    from rdkafka_streams_spark.llm.pca import project_stats

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], 7), (2, [0.5, -1.0], 7), (3, [2.0, 0.0], 8)],
        "vec_id bigint, embedding array<float>, label bigint",
    )
    v = [3, -2]  # qv = [1000,2000],[500,-1000],[2000,0]
    rows = {r["label"]: r for r in project_stats(emb, v).collect()}
    # label 7: projections 3*1000-2*2000=-1000 and 3*500+2*1000=3500
    assert rows[7]["n_vecs"] == 2
    assert rows[7]["min_proj"] == -1000 and rows[7]["max_proj"] == 3500
    assert rows[7]["sum_proj"] == 2500
    assert rows[8]["min_proj"] == rows[8]["max_proj"] == 6000


def test_seeded_beam_search_top1_is_the_seed_nn(spark):
    """With entry= the query's exact nearest neighbor, the lower walk's
    top-1 must be that seed (nothing closer exists; the seed is scored
    into the beam and never displaced)."""
    import numpy as np

    from rdkafka_streams_spark.llm.similarity import (
        beam_search_integer,
        exact_knn_integer,
    )

    rng = np.random.RandomState(3)
    n, dim = 40, 6
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    queries = emb.where(F.col("vec_id") % 13 == 0)
    nn1 = {r["q_id"]: r["vec_id"]
           for r in exact_knn_integer(emb, queries, k=1).collect()}
    entry = spark.createDataFrame(
        [(q, node) for q, node in nn1.items()], "q_id bigint, node bigint"
    )
    got = beam_search_integer(
        emb, queries, k=1, beam=4, hops=2, n_cells=4, n_iters=2,
        entry=entry,
    ).collect()
    assert {r["q_id"]: r["vec_id"] for r in got} == nn1


def test_hierarchical_beam_search_recall_and_determinism(spark):
    """Two-layer descent must (a) be deterministic run to run, (b) reach
    recall@3 ≥ 0.75 vs exact on a corpus where the flat hub walk with
    the same LOWER hop budget is the baseline it should not lose to."""
    import numpy as np

    from rdkafka_streams_spark.llm.similarity import (
        exact_knn_integer,
        hierarchical_beam_search,
    )

    rng = np.random.RandomState(23)
    n, dim = 96, 8
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    queries = emb.where(F.col("vec_id") % 19 == 0)
    kw = dict(k=3, beam=8, hops=3, up_mod=4, up_beam=4, up_hops=2,
              r=6, n_assign=2, n_cells=4, n_iters=2)
    a = sorted(tuple(r) for r in
               hierarchical_beam_search(emb, queries, **kw).collect())
    b = sorted(tuple(r) for r in
               hierarchical_beam_search(emb, queries, **kw).collect())
    assert a == b, "two-layer walk must be a pure function of the corpus"
    exact = {(r["q_id"], r["vec_id"])
             for r in exact_knn_integer(emb, queries, k=3).collect()}
    got = {(t[0], t[1]) for t in a}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.75, recall


def test_isotonic_calibrate_matches_pure_python_pav(spark):
    """The minimax-form fit must equal classic weighted
    pool-adjacent-violators (snapped at pooled-block boundaries), and be
    non-decreasing."""
    import hashlib as _h

    from rdkafka_streams_spark.operators.calibration import isotonic_calibrate

    # deterministic noisy-monotone labels over 200 scored rows
    rows = []
    for i in range(200):
        score = float(i)
        nib = int(_h.md5(str(i).encode()).hexdigest()[0], 16)
        label = 1 if (i // 2 + nib) % 16 < (i * 16) // 200 else 0
        rows.append((i, score, label))
    scored = spark.createDataFrame(rows, "doc_id long, margin double, actual int")
    n_bins = 8
    got = {r["bin"]: r for r in
           isotonic_calibrate(scored, n_bins=n_bins).collect()}

    # pure-Python reference: ntile binning + weighted PAV
    per_bin = [[0, 0] for _ in range(n_bins)]
    size, extra = divmod(200, n_bins)
    pos = 0
    for b in range(n_bins):
        cnt = size + (1 if b < extra else 0)
        for i in range(pos, pos + cnt):
            per_bin[b][0] += 1
            per_bin[b][1] += rows[i][2]
        pos += cnt
    import math

    merged = []  # weighted PAV: [n, s, n_bins_covered]
    for n, s in per_bin:
        merged.append([n, s, 1])
        while len(merged) > 1 and (
            merged[-2][1] * merged[-1][0] >= merged[-1][1] * merged[-2][0]
        ):
            b2 = merged.pop()
            merged[-1][0] += b2[0]
            merged[-1][1] += b2[1]
            merged[-1][2] += b2[2]
    bin_iso = []
    for n, s, covered in merged:
        # the engine's snap: floor on the DOUBLE quotient, same formula
        val = math.floor(s * 1000000 / n + 0.5)
        bin_iso.extend([val] * covered)
    assert len(bin_iso) == n_bins
    prev = None
    for b in range(1, n_bins + 1):
        assert got[b]["iso_micro"] == bin_iso[b - 1], (b, got[b], bin_iso)
        if prev is not None:
            assert got[b]["iso_micro"] >= prev
        prev = got[b]["iso_micro"]


def test_pca_incremental_merge_equals_full_fit(spark):
    """(G,S,N) additivity: the merged two-part fit must equal the
    single-pass full fit exactly (same loadings, not approximately)."""
    import numpy as np

    from rdkafka_streams_spark.llm.pca import (
        pca_top_component,
        pca_top_component_incremental,
    )

    rng = np.random.RandomState(5)
    vecs = rng.randn(50, 5).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    _, full = pca_top_component(emb)
    _, inc = pca_top_component_incremental(
        [emb.where("vec_id % 3 = 0"), emb.where("vec_id % 3 <> 0")]
    )
    assert full == inc


def test_hamming_topk_matches_pure_python_reference(spark):
    """Codes and the XOR+popcount top-k must equal an independent Python
    implementation of the same spec (md5 hyperplanes, sign >= 0, ties
    (dist, id))."""
    import numpy as np

    from rdkafka_streams_spark.llm.similarity import hamming_topk, hyperplanes

    rng = np.random.RandomState(9)
    n, dim, n_planes, k = 40, 8, 16, 3
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    queries = emb.where(F.col("vec_id") % 11 == 0)
    planes = hyperplanes(n_planes, dim)

    def code(v):
        c = 0
        for j, p in enumerate(planes):
            if sum(float(v[d]) * p[d] for d in range(dim)) >= 0:
                c += 2 ** j
        return c

    codes = [code(vecs[i]) for i in range(n)]
    want = []
    for q in range(0, n, 11):
        ranked = sorted(
            (bin(codes[q] ^ codes[i]).count("1"), i)
            for i in range(n) if i != q
        )
        want += [(q, i, d) for d, i in ranked[:k]]
    got = sorted(
        (r["q_id"], r["vec_id"], r["hamming"])
        for r in hamming_topk(emb, queries, k=k, n_planes=n_planes,
                              dim=dim).collect()
    )
    assert got == sorted(want)


def test_grouped_rank_equals_naive_window(spark):
    from rdkafka_streams_spark.operators.ranking import grouped_rank

    rows = [(i, "g" + str(i % 3), f"k{i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, grp string, o string")
    got = {(r["grp"], r["id"]): r["rn"]
           for r in grouped_rank(df, "grp", ["o", "id"]).collect()}
    from pyspark.sql import Window as W

    naive = {(r["grp"], r["id"]): r["rn"] for r in df.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("grp").orderBy("o", "id"))).collect()}
    assert got == naive


def test_mixture_interleave_prefix_honors_weights(spark):
    """WFQ property: any prefix carries each source in proportion to its
    temperature weight, +-2 docs (the discipline's lag bound)."""
    from rdkafka_streams_spark.operators.ranking import mixture_interleave

    rows = [(i, "big") for i in range(400)] + \
           [(1000 + i, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_interleave(docs, tau=0.5, prefix=60).collect()
    assert [r["pos"] for r in sorted(out, key=lambda r: r["pos"])] == list(
        range(1, 61))
    # weights: sqrt(400)=20, sqrt(100)=10 -> shares 2/3, 1/3
    n_big = sum(1 for r in out if r["source"] == "big")
    n_small = sum(1 for r in out if r["source"] == "small")
    assert abs(n_big - 40) <= 2 and abs(n_small - 20) <= 2, (n_big, n_small)
    # determinism
    again = mixture_interleave(docs, tau=0.5, prefix=60).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_length_bucketed_batches_cut_padding_vs_single_bucket(spark):
    """The closed-form bucketing must match a pure-Python ntile+batch
    reference, and bucketing must strictly cut total padding waste on a
    length-skewed corpus vs one global bucket."""
    from rdkafka_streams_spark.operators.ranking import length_bucketed_batches

    rows = [(i, " ".join(["w"] * (5 + (i * 7) % 90))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n_buckets, bs = 4, 16
    got = {(r["bucket"], r["batch"]): (r["n_docs"], r["max_len"],
                                       r["padding_waste"])
           for r in length_bucketed_batches(
               docs, n_buckets=n_buckets, batch_size=bs).collect()}

    lens = sorted((5 + (i * 7) % 90, i) for i in range(200))
    size, extra = divmod(200, n_buckets)
    want = {}
    pos = 0
    for b in range(1, n_buckets + 1):
        cnt = size + (1 if b <= extra else 0)
        chunk = lens[pos:pos + cnt]
        pos += cnt
        for bi in range(0, cnt, bs):
            batch = chunk[bi:bi + bs]
            mx = max(l for l, _ in batch)
            want[(b, bi // bs + 1)] = (
                len(batch), mx, len(batch) * mx - sum(l for l, _ in batch))
    assert got == want
    waste_bucketed = sum(v[2] for v in got.values())
    single = {(r["bucket"], r["batch"]): r["padding_waste"]
              for r in length_bucketed_batches(
                  docs, n_buckets=1, batch_size=bs).collect()}
    # single bucket still batches sorted-by-length, so make the real
    # comparison: shuffled-order batching (the naive dataloader)
    naive_lens = [5 + (i * 7) % 90 for i in range(200)]
    naive_waste = 0
    for bi in range(0, 200, bs):
        batch = naive_lens[bi:bi + bs]
        naive_waste += len(batch) * max(batch) - sum(batch)
    assert waste_bucketed < naive_waste


def test_leakage_free_split_keeps_clusters_whole(spark):
    """Every near-dup cluster lands in ONE split (leaked == 0 computed,
    not assumed), while the naive per-doc hash split on the same corpus
    DOES leak — the property the operator exists for."""
    import hashlib as _h

    from rdkafka_streams_spark.llm.dedup import jaccard_pairs
    from rdkafka_streams_spark.operators.graph import connected_components

    # 30 clusters of 3 identical docs (guaranteed near-dups), distinct
    # token sets per cluster so clusters never merge
    rows = []
    for c in range(30):
        text = " ".join(f"tok{c}_{t}" for t in range(12))
        for m in range(3):
            rows.append((c * 10 + m, text, "en", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    d = docs.withColumn(
        "blk", F.concat_ws("|", F.col("lang"),
                           F.expr("n_chars div 100").cast("string")))
    pairs = jaccard_pairs(d, threshold=0.8, block_col="blk").select("id1", "id2")
    comp = connected_components(pairs, "id1", "id2", dedupe_edges=False)
    rep = {r["node"]: r["component"] for r in comp.collect()}
    pair_rows = [(r["id1"], r["id2"]) for r in pairs.collect()]
    assert pair_rows, "fixture must produce near-dup pairs"

    def split_of(x: int) -> str:
        b = int(_h.md5(str(x).encode()).hexdigest()[:2], 16)
        return "train" if b < 204 else ("val" if b < 229 else "test")

    # operator semantics: split by rep
    cluster_split = {i: split_of(rep.get(i, i)) for i, _, _, _ in rows}
    leaked = sum(1 for a, b in pair_rows
                 if cluster_split[a] != cluster_split[b])
    assert leaked == 0
    # naive per-doc split leaks on this fixture
    naive_leaked = sum(1 for a, b in pair_rows
                       if split_of(a) != split_of(b))
    assert naive_leaked > 0, "fixture too easy: naive split did not leak"


def test_trigram_lm_orders_and_backoff(spark):
    """Order-3 evidence must price a corpus-dominant trigram below a
    doc whose trigrams are novel but whose bigrams/unigrams are seen
    (the interpolation's backoff), and both below token soup."""
    from rdkafka_streams_spark.llm.text import trigram_lm_scores

    rows = [
        (0, "a b c a b c a b c"),   # dominant trigrams
        (1, "a b c a b c a b c"),
        (2, "c a b c a b c a b"),   # same bigrams, shifted trigrams (seen)
        (3, "b a c b a c b a c"),   # seen unigrams, novel bi/trigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    x = {r["doc_id"]: r["xent"] for r in trigram_lm_scores(docs).collect()}
    assert x[0] == x[1] < x[3], x
    # doc 3 is finite (unigram floor), not an error
    assert x[3] > 0


def test_length_bucketed_batches_fewer_docs_than_buckets(spark):
    """total < n_buckets edge: every doc is its own bucket (ntile
    semantics), size==0 arithmetic branch never divides by zero."""
    from rdkafka_streams_spark.operators.ranking import length_bucketed_batches

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i))) for i in range(5)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["bucket"], r["batch"], r["n_docs"], r["max_len"], r["padding_waste"])
        for r in length_bucketed_batches(docs, n_buckets=8, batch_size=4).collect()
    )
    assert got == [(b, 1, 1, 3 + b - 1, 0) for b in range(1, 6)]


def test_nsw_insert_empty_delta_is_identity(spark, tmp_path):
    """An empty insert batch must return exactly the standing graph
    (local edges + bridges re-derived from saved reps) — no touched
    cells, no base read beyond the canonical edge copies."""
    import numpy as np
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.llm.similarity import (
        build_nsw_insert_layout,
        kmeans_integer,
        nsw_graph_integer,
        nsw_insert_integer,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 4).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    cents = kmeans_integer(emb, k=3, n_iters=2)[1]
    path = str(tmp_path / "nsw_empty")
    build_nsw_insert_layout(emb, path, cents, r=3, n_assign=2)
    empty = emb.where(F.lit(False))
    merged = sorted(tuple(r) for r in nsw_insert_integer(
        spark, path, cents, empty, r=3, n_assign=2,
    ).collect())
    standing = sorted(tuple(r) for r in nsw_graph_integer(
        emb, r=3, n_assign=2, coarse=cents,
    ).collect())
    assert merged == standing and len(merged) > 0


def test_nsw_insert_delta_into_base_empty_cell(spark, tmp_path):
    """A delta landing in a cell the standing corpus never populated
    (possible: kmeans carries empty clusters' centroids forward) must
    create that cell's representative + bridges and still equal the
    full rebuild — handcrafted centroids force the geometry: base
    clusters near two centroids, the delta alone near a third."""
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.llm.similarity import (
        build_nsw_insert_layout,
        nsw_graph_integer,
        nsw_insert_integer,
    )

    # quantized space is x*1000: centroid qc values are ints there
    cents = [(1, [0, 0]), (2, [100, 100]), (3, [100000, 100000]),
             (4, [220000, 220000])]
    base_pts = [(i, [0.001 * i, 0.002 * i]) for i in range(10)] + [
        (10 + i, [0.1 + 0.001 * i, 0.1 - 0.001 * i]) for i in range(10)
    ]
    delta_pts = [(100, [100.0, 100.0]), (101, [100.05, 99.95])]
    base = spark.createDataFrame(
        base_pts, "vec_id bigint, embedding array<double>"
    )
    delta = spark.createDataFrame(
        delta_pts, "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "nsw_newcell")
    build_nsw_insert_layout(base, path, cents, r=3, n_assign=2)
    merged = sorted(tuple(r) for r in nsw_insert_integer(
        spark, path, cents, delta, r=3, n_assign=2,
    ).collect())
    union = base.unionByName(delta)
    rebuilt = sorted(tuple(r) for r in nsw_graph_integer(
        union, r=3, n_assign=2, coarse=cents,
    ).collect())
    assert merged == rebuilt and len(merged) > 0
    # the new cell's rep (the delta min id) must appear as a bridge end
    ends = {s for s, _ in merged} | {d for _, d in merged}
    assert 100 in ends


def test_pca_overflow_guard_raises_loudly(spark):
    """Non-unit-normalized embeddings whose quantized magnitude breaks
    the int64 Gram headroom must raise the contract error, not wrap
    silently (ADVICE r14: the documented N≈9e12 bound assumed |x|<=1)."""
    import pytest

    from rdkafka_streams_spark.llm.pca import pca_top_component

    emb = spark.createDataFrame(
        [(0, [4.0e6, 1.0]), (1, [3.9e6, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception) as ei:
        pca_top_component(emb)
    assert "overflow guard" in str(ei.value)


def test_pca_incremental_part_validation(spark):
    """A later increment with a different embedding dim (or a NULL
    first vector) must fail with the part index in the message, not an
    opaque numpy shape error (ADVICE r14)."""
    import pytest

    from rdkafka_streams_spark.llm.pca import pca_top_component_incremental

    a = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.5, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(2, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="part 1"):
        pca_top_component_incremental([a, b])
    c = spark.createDataFrame(
        [(3, None)], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="part 1"):
        pca_top_component_incremental([a, c])


def test_global_rank_with_total_no_second_scan(spark):
    """global_rank_with_total's total must equal the input cardinality —
    it rides out of the SAME per-partition counts job the rank already
    runs (the ADVICE-r14 fix for length_bucketed_batches' second full
    scan)."""
    from rdkafka_streams_spark.operators.ranking import (
        global_rank_with_total,
    )

    df = spark.range(0, 1234).selectExpr("id", "id % 7 as k")
    ranked, total = global_rank_with_total(df, ["k", "id"])
    assert total == 1234
    assert ranked.count() == 1234


def test_nsw_delete_merge_equals_rebuild_including_hub(spark, tmp_path):
    """Deleting a tombstone batch that INCLUDES the hub (global min id)
    and at least one cell representative must still equal the full
    rebuild on the survivors — reps and the entry point re-derive from
    the touched cells' surviving rank-1 members."""
    import numpy as np
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.llm.similarity import (
        build_nsw_insert_layout,
        kmeans_integer,
        nsw_delete_integer,
        nsw_graph_integer,
    )

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 4).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    cents = kmeans_integer(emb, k=4, n_iters=2)[1]
    path = str(tmp_path / "nsw_del")
    build_nsw_insert_layout(emb, path, cents, r=4, n_assign=2)
    deleted = emb.where(F.col("vec_id") % 5 == 0)  # includes id 0 = hub
    remaining = emb.where(F.col("vec_id") % 5 != 0)
    merged = sorted(tuple(r) for r in nsw_delete_integer(
        spark, path, cents, deleted, r=4, n_assign=2,
    ).collect())
    rebuilt = sorted(tuple(r) for r in nsw_graph_integer(
        remaining, r=4, n_assign=2, coarse=cents,
    ).collect())
    assert merged == rebuilt and len(merged) > 0
    ends = {s for s, _ in merged} | {d for _, d in merged}
    assert 0 not in ends, "tombstoned hub still reachable"


def test_nsw_delete_empty_tombstone_is_identity(spark, tmp_path):
    """An empty tombstone batch must return exactly the standing graph."""
    import numpy as np
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.llm.similarity import (
        build_nsw_insert_layout,
        kmeans_integer,
        nsw_delete_integer,
        nsw_graph_integer,
    )

    rng = np.random.RandomState(13)
    vecs = rng.randn(30, 4).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    cents = kmeans_integer(emb, k=3, n_iters=2)[1]
    path = str(tmp_path / "nsw_del_empty")
    build_nsw_insert_layout(emb, path, cents, r=3, n_assign=2)
    merged = sorted(tuple(r) for r in nsw_delete_integer(
        spark, path, cents, emb.where(F.lit(False)), r=3, n_assign=2,
    ).collect())
    standing = sorted(tuple(r) for r in nsw_graph_integer(
        emb, r=3, n_assign=2, coarse=cents,
    ).collect())
    assert merged == standing and len(merged) > 0


def test_nsw_insert_writeback_partial_and_rebuild_exact(spark, tmp_path):
    """The write-back must (a) leave every partition OUTSIDE the rewrite
    set byte-stable on disk (same files, same bytes — the overwrite is
    dynamic, not a table rewrite), and (b) leave the stored layout
    reading back exactly the full-rebuild edge set. Handcrafted
    centroids keep the delta far from two of the base's cells so a
    genuinely untouched partition exists."""
    import glob
    import os

    from pyspark.sql import functions as F

    from rdkafka_streams_spark.llm.similarity import (
        build_nsw_insert_layout,
        nsw_graph_integer,
        nsw_insert_writeback,
        nsw_layout_edges,
    )

    # cluster A (ids 0-9, near origin) → cells (1, 2); cluster B (ids
    # 10-19, near [200, 200]) → cells (3, 2); delta (near [500, 500]) →
    # cells (4, 3). Touched = {3, 4}; affected = cluster B only; the
    # rewrite closure = B∪delta's cells = {2, 3, 4} — cell 1 (cluster
    # A's rank-1 partition) must stay byte-stable.
    cents = [(1, [0, 0]), (2, [100000, 100000]), (3, [200000, 200000]),
             (4, [500000, 500000])]
    base_pts = [(i, [0.001 * i, 0.002 * i]) for i in range(10)] + [
        (10 + i, [200.0 + 0.001 * i, 200.0 - 0.001 * i]) for i in range(10)
    ]
    delta_pts = [(100, [500.0, 500.0]), (101, [500.05, 499.95])]
    base = spark.createDataFrame(
        base_pts, "vec_id bigint, embedding array<double>"
    )
    delta = spark.createDataFrame(
        delta_pts, "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "nsw_wb")
    build_nsw_insert_layout(base, path, cents, r=3, n_assign=2)

    def snap(sub):
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(f"{path}/{sub}/cell=*/*.parquet")
        }

    e_before, n_before = snap("edges"), snap("nodes")
    rewritten = nsw_insert_writeback(
        spark, path, cents, delta, r=3, n_assign=2,
    )
    assert 1 not in rewritten and set(rewritten) <= {2, 3, 4}
    for p, meta in e_before.items():
        cell = int(p.split("cell=")[1].split("/")[0])
        if cell not in rewritten:
            assert os.path.exists(p) and (
                os.path.getsize(p), os.path.getmtime(p)
            ) == meta, f"untouched edge partition changed: {p}"
    for p, meta in n_before.items():
        cell = int(p.split("cell=")[1].split("/")[0])
        if cell not in {3, 4}:
            assert os.path.exists(p) and (
                os.path.getsize(p), os.path.getmtime(p)
            ) == meta, f"untouched node partition changed: {p}"

    stored = sorted(
        tuple(r) for r in nsw_layout_edges(spark, path).collect()
    )
    rebuilt = sorted(tuple(r) for r in nsw_graph_integer(
        base.unionByName(delta), r=3, n_assign=2, coarse=cents,
    ).collect())
    assert stored == rebuilt and len(stored) > 0


def test_nsw_delete_writeback_partial_removal_and_rebuild_exact(
    spark, tmp_path
):
    """Delete write-back must (a) REMOVE a partition whose membership
    empties entirely (stale tombstone rows must not survive the purge),
    (b) leave partitions outside the rewrite closure byte-stable, and
    (c) leave the stored layout reading back exactly the rebuild on
    the survivors. Fixture: delete ALL of cluster B (cells 3/2) while
    cluster A (cells 1/2) stands — cell 3 empties, cell 1 must not
    change."""
    import glob
    import os

    from pyspark.sql import functions as F

    from rdkafka_streams_spark.llm.similarity import (
        build_nsw_insert_layout,
        nsw_delete_writeback,
        nsw_graph_integer,
        nsw_layout_edges,
    )

    cents = [(1, [0, 0]), (2, [100000, 100000]), (3, [200000, 200000]),
             (4, [500000, 500000])]
    pts = [(i, [0.001 * i, 0.002 * i]) for i in range(10)] + [
        (10 + i, [200.0 + 0.001 * i, 200.0 - 0.001 * i]) for i in range(10)
    ]
    emb = spark.createDataFrame(
        pts, "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "nsw_delwb")
    build_nsw_insert_layout(emb, path, cents, r=3, n_assign=2)

    e_before = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{path}/edges/cell=*/*.parquet")
    }
    deleted = emb.where(F.col("vec_id") >= 10)  # all of cluster B
    remaining = emb.where(F.col("vec_id") < 10)
    rewritten = nsw_delete_writeback(
        spark, path, cents, deleted, r=3, n_assign=2,
    )
    # cluster B's cells are (3, 2); affected = cell-2/3 survivors =
    # cluster A (cells 1, 2) → closure {1, 2, 3}... cell 4 never existed.
    # cell 3 must be GONE (emptied); any cell outside the closure stable.
    assert not os.path.exists(f"{path}/nodes/cell=3"), "emptied node cell kept"
    assert not os.path.exists(f"{path}/edges/cell=3"), "emptied edge cell kept"
    for p, meta in e_before.items():
        cell = int(p.split("cell=")[1].split("/")[0])
        if cell not in rewritten:
            assert os.path.exists(p) and (
                os.path.getsize(p), os.path.getmtime(p)
            ) == meta, f"partition outside the closure changed: {p}"
    stored = sorted(
        tuple(r) for r in nsw_layout_edges(spark, path).collect()
    )
    rebuilt = sorted(tuple(r) for r in nsw_graph_integer(
        remaining, r=3, n_assign=2, coarse=cents,
    ).collect())
    assert stored == rebuilt and len(stored) > 0
    ends = {s for s, _ in stored} | {d for _, d in stored}
    assert all(e < 10 for e in ends), "tombstoned node still in the layout"
