"""Entry-contract smoke + new-operator tests (NMS, multimodal, dedup suite).

The full query-vs-DuckDB-oracle sweep lives in scripts/check_oracles.py
(the driver runs the equivalent at sf0.01); here we pin the pieces pytest
should guard at sf0.001 speed.
"""
from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pdf_parser_spark import golden as G
from pdf_parser_spark.operators import dedup, multimodal, nms

SF = "/root/testdata/sf0.001"


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"conv_id", "turn_idx", "extracted_text", "spans_json", "turn_seq"} <= set(
        df.columns
    )


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every registered query is callable
    assert all(callable(f) for f in qs.values())
    # every module-level q_* is registered: an entry left out of queries()
    # has no oracle and no caller
    defined = {
        f for n, f in vars(entrymod).items() if n.startswith("q_") and callable(f)
    }
    assert defined <= set(qs.values()), sorted(
        f.__name__ for f in defined - set(qs.values())
    )


def test_nms_filter_matches_numpy_golden(spark):
    import pandas as pd

    boxes = spark.read.parquet(G.ensure_nms_boxes(SF))
    got = (
        nms.nms_filter(boxes)
        .orderBy("doc_id", "page", "img_idx")
        .toPandas()[["doc_id", "page", "img_idx", "kept"]]
    )
    want = (
        pd.read_parquet(G.ensure_nms_golden(SF))
        .sort_values(["doc_id", "page", "img_idx"])
        .reset_index(drop=True)[["doc_id", "page", "img_idx", "kept"]]
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want)
    assert got["kept"].any() and (~got["kept"]).any()  # both outcomes exercised


def test_pairs_overlapping_symmetric_subset(spark):
    boxes = spark.read.parquet(G.ensure_nms_boxes(SF))
    pairs = nms.pairs_overlapping(boxes)
    got = pairs.count()
    # oracle: brute-force within groups via numpy
    import numpy as np
    import pandas as pd

    from pdf_parser_spark.kernels.geometry import boxes_overlap

    pdf = pd.read_parquet(G.ensure_nms_boxes(SF))
    n = 0
    for _, g in pdf.groupby(["doc_id", "page"]):
        coords = g[["x0", "y0", "x1", "y1"]].to_numpy()
        m = boxes_overlap(coords, coords)
        off_diag = m & ~np.eye(len(g), dtype=bool)
        n += int(off_diag.sum()) // 2
    assert got == n


def test_media_features_match_jvm_expressions(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).limit(50)
    feats = multimodal.media_features(multimodal.as_media_table(docs))
    jvm = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
    )
    joined = feats.join(jvm, "media_id")
    bad = joined.filter(
        (feats["n_bytes"] != jvm["n_bytes"]) | (feats["content_md5"] != jvm["content_md5"])
    ).count()
    assert bad == 0
    r = feats.first()
    assert r["width"] == 16 + (r["n_bytes"] % 48)


def test_extension_of_and_zoom_factor(spark):
    """F1's lowercased final extension and X7's dpi/72 zoom; these column
    functions are the only implementation of either."""
    from pdf_parser_spark.functions import extension_of, zoom_factor

    r = (
        spark.createDataFrame([("A.B.PDF", 144)], "name string, dpi int")
        .select(
            extension_of(F.col("name")).alias("ext"),
            zoom_factor(F.col("dpi")).alias("zoom"),
        )
        .first()
    )
    assert (r["ext"], r["zoom"]) == ("pdf", 2.0)


def test_exact_dedup_keeps_first(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    )
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    kept = dedup.exact_dedup(doubled)
    ids = [r["doc_id"] for r in kept.select("doc_id").collect()]
    assert len(ids) == docs.count()
    assert all(i < 1000000 for i in ids)  # originals (lowest id) survive


def test_fallback_flag_matches_rescued_golden(spark, transcripts_pdf, transcripts_parquet):
    """extract_turns(fallback=True) must be row-for-row equal, in every
    column, to the fallback golden (the strict golden with every non-empty
    error row rescued as plain text by its own pandas code)."""
    import pandas as pd

    from pdf_parser_spark.kernels.extract import extract_batch
    from pdf_parser_spark.pipeline import extract_turns

    got = (
        extract_turns(spark.read.parquet(transcripts_parquet), fallback=True)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = (
        pd.read_parquet(G.ensure_golden_fallback(SF))
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    got["spans_json"] = [G.spans_to_json(s) for s in got["spans"]]
    for col in (
        "conv_id", "turn_idx", "role", "tool", "payload_kind", "extracted_text",
        "spans_json", "n_blocks", "extraction_ok",
    ):
        assert got[col].tolist() == want[col].tolist(), col
    # rescued rows exist: strict run had errors with non-empty payloads
    strict = extract_batch(transcripts_pdf)
    n_rescuable = (
        (strict["payload_kind"] == "error") & (transcripts_pdf.set_index(
            ["conv_id", "turn_idx"]
        ).loc[list(zip(strict["conv_id"], strict["turn_idx"]))]["text"].values != "")
    ).sum()
    assert n_rescuable > 0
    assert (want["extraction_ok"].sum() - strict["extraction_ok"].sum()) == n_rescuable


def test_fallback_keeps_duplicate_keys_one_row_each(spark):
    """The rescue is per row: two turns sharing a (conv_id, turn_idx) key
    with an unparseable PDF payload come back as two rows, not four."""
    from pdf_parser_spark.pipeline import TRANSCRIPT_SPARK_SCHEMA, extract_turns

    bad_pdf = "JVBERi0xLjQKbm90IGEgcGRm"  # base64 of b"%PDF-1.4\nnot a pdf"
    df = spark.createDataFrame(
        [
            ("c", 0, "user", bad_pdf, None, None),
            ("c", 0, "user", bad_pdf, None, None),
            ("c", 1, "user", "hello", None, None),
        ],
        TRANSCRIPT_SPARK_SCHEMA,
    )
    rows = sorted(
        (r["turn_idx"], r["payload_kind"], r["extracted_text"])
        for r in extract_turns(df, fallback=True).collect()
    )
    assert rows == [(0, "plain", bad_pdf), (0, "plain", bad_pdf), (1, "plain", "hello")]


def test_release_persisted_frees_pipeline_persists(spark, transcripts_parquet):
    """The extraction pipeline (fallback path included) leaves no persist
    behind. An operator's per-call persist outlives the call, and
    release_persisted() must free it once the action has run."""
    from pdf_parser_spark.caching import release_persisted
    from pdf_parser_spark.pipeline import extract_turns, reassemble

    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    release_persisted(blocking=True)
    base = jsc.getPersistentRDDs().size()
    out = reassemble(extract_turns(spark.read.parquet(transcripts_parquet), fallback=True))
    out.write.format("noop").mode("overwrite").save()
    assert jsc.getPersistentRDDs().size() == base
    assert release_persisted(blocking=True) == 0

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the hat"), (3, "zz")],
        "doc_id long, text string",
    )
    dedup.ngram_jaccard_pairs(docs).collect()
    assert jsc.getPersistentRDDs().size() == base + 1
    assert release_persisted(blocking=True) == 1
    assert jsc.getPersistentRDDs().size() == base


def test_bpe_token_count_creates_no_broadcast(spark, monkeypatch):
    """The merge table is a pure function of the shipped code: each Python
    worker builds it once (``default_ranks``), so with_bpe_token_count
    ships no broadcast and leaves nothing to release."""
    from pyspark import SparkContext

    from pdf_parser_spark.operators.text_stats import with_bpe_token_count

    made = []
    broadcast = SparkContext.broadcast
    monkeypatch.setattr(
        SparkContext, "broadcast", lambda sc, value: made.append(broadcast(sc, value)) or made[-1]
    )
    docs = spark.createDataFrame(
        [(1, "the attention is all"), (2, "xyzzy 12345")], "doc_id long, text string"
    )
    assert with_bpe_token_count(docs).agg(F.sum("n_bpe_tokens")).first()[0] > 0
    assert made == []


def test_perceptual_dedup_drops_exact_copies(spark):
    import __spark_entry__ as em

    out = em.q_d3_perceptual_dedup(spark, SF).toPandas()
    n_docs = len(out) // 2
    dropped = out[~out["kept"]]
    # every exact copy (media_id >= 1e6) whose original shares the group is
    # perceptually identical -> dropped; originals all kept
    assert len(dropped) >= n_docs * 0.95
    assert (dropped["media_id"] >= 1000000).all()
    assert out[out["media_id"] < 1000000]["kept"].all()


def test_ivf_train_invariants(spark):
    from pdf_parser_spark.operators.similarity import ivf_train

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    out = ivf_train(emb, n_cells=8, n_iters=2).toPandas()
    assert len(out) == 8
    assert out["n_members"].sum() == emb.count()  # every vector assigned once
    assert (out["n_members"] > 0).all()
    assert (out["centroid_norm"] > 0).all() and out["centroid_norm"].notna().all()


def test_ivf_ties_go_to_the_lower_cell(spark):
    """Cells 0 and 1 are seeded from the same vector, and id 3 is exactly
    equidistant from cells 0 and 2: every tie goes to the lower cell, in
    assignment, in the probe's ranking of the query's cells and in every
    training round, so cell 1 never gets a member."""
    from pdf_parser_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_topk,
        ivf_train,
    )

    vecs = [(1.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.5, 0.5), (1.5, -0.5), (0.2, 2.0)]
    emb = spark.createDataFrame(
        [(i, list(v)) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    assigned = [tuple(r) for r in ivf_assign(emb, n_cells=3).collect()]
    assert assigned == [
        (0, 0, 0.0), (1, 0, 0.0), (2, 2, 0.0), (3, 0, 0.5), (4, 0, 0.5), (5, 2, 1.04)
    ]
    probed = ivf_probe_topk(emb, query_id=4, k=5, n_cells=3, nprobe=1).collect()
    assert [r["vec_id"] for r in probed] == [0, 1, 3]
    trained = ivf_train(emb, n_cells=3, n_iters=2).collect()
    assert [(r["cell"], r["n_members"]) for r in trained] == [(0, 4), (2, 2)]


def test_minhash_finds_truncated_copies(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    ).limit(60)
    copy = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 15)").alias("text"),
    )
    pairs = dedup.minhash_lsh_pairs(docs.unionByName(copy), jaccard_threshold=0.6)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    hits = sum(1 for a, b in found if b - a == 1000000)
    assert hits >= 40  # LSH recall over 60 near-identical pairs


def test_shingles_short_doc_yields_none(spark):
    """Pin the short-document contract: documents with fewer than k tokens
    yield ZERO shingles (no truncated shingle) — minhash/ngram recall for
    short docs depends on this; the DuckDB oracles mirror it, so only a unit
    test can catch a silent flip in a future rewrite."""
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, ""), (4, "single")],
        "doc_id long, text string",
    )
    sh = dedup.shingles(docs, k=3).toPandas()
    by_id = sh.groupby("id")["shingle"].apply(list).to_dict()
    assert 1 not in by_id and 3 not in by_id and 4 not in by_id
    assert by_id[2] == ["one two three"]


def test_simhash_hamming_finds_truncated_copies(spark):
    """Pigeonhole banding recall: 15-char-truncated copies perturb few tokens,
    so most land within Hamming<=3 of their original and MUST be found (any
    pair with hamming<=3 shares an exact 16-bit chunk — guaranteed recall,
    not probabilistic)."""
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    ).limit(60)
    copy = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 15)").alias("text"),
    )
    pairs = dedup.simhash_hamming_pairs(docs.unionByName(copy), max_hamming=3)
    got = pairs.toPandas()
    assert (got["hamming"] <= 3).all()
    hits = sum(1 for a, b in zip(got["id_a"], got["id_b"]) if b - a == 1000000)
    assert hits >= 20  # most truncated copies sit within Hamming<=3


def test_analysis_envelope_nested_schema(spark):
    """pages_info must be a genuine ArrayType(StructType) column (the
    analyzer's nested analysis_result shape, pdf_analyzer.py:92-103), not a
    pre-flattened string; the registered query serializes it only at the
    output boundary."""
    from pyspark.sql import types as T

    from pdf_parser_spark.operators import images_op

    env = images_op.analysis_records(
        spark.read.parquet(G.ensure_transcripts(SF))
    )
    f = env.schema["pages_info"]
    assert isinstance(f.dataType, T.ArrayType)
    assert isinstance(f.dataType.elementType, T.StructType)
    assert [x.name for x in f.dataType.elementType.fields] == [
        "page", "text_chars", "image_count", "curves", "lines", "rects",
    ]
    # metadata must be a genuine MapType column (the analyzer's /Info dict,
    # pdf_analyzer.py:42-43), populated from the REAL parsed trailer
    mf = env.schema["metadata"]
    assert isinstance(mf.dataType, T.MapType)
    rows = env.limit(200).collect()
    assert rows and any(len(r["pages_info"]) > 0 for r in rows)
    # pages_info is capped at the classify sample (first <=3 pages), page_count is not
    assert all(len(r["pages_info"]) <= 3 for r in rows)
    with_meta = [r for r in rows if r["metadata"]]
    without = [r for r in rows if not r["metadata"]]
    assert with_meta and without  # fixture has both populated and absent /Info
    assert all("CreationDate" in r["metadata"] for r in with_meta)
    assert all(r["metadata"]["CreationDate"].startswith("D:20") for r in with_meta)


def test_force_kind_flips_dispatch():
    """force_mode: a digital PDF (images + text -> classifier says
    'digital', no whole-page renders) forced to 'vector' must go through
    the K1 render path; forced to 'text' must emit nothing."""
    from pdf_parser_spark.config import ExtractConfig
    from pdf_parser_spark.datagen import _make_pdf_digital, _words_of
    from pdf_parser_spark.kernels.records import (
        payload_analysis,
        payload_page_renders,
    )

    payload = _make_pdf_digital(3, _words_of("alpha beta gamma delta " * 40))
    assert payload_analysis(payload)[0]["pdf_type"] == "digital"
    assert payload_page_renders(payload) == []
    forced = ExtractConfig(force_kind="vector")
    renders = payload_page_renders(payload, forced)
    assert renders and all(r["renderer"] == "standard" for r in renders)
    assert payload_analysis(payload, forced)[0]["pdf_type"] == "vector"
    assert payload_page_renders(payload, ExtractConfig(force_kind="text")) == []


def test_pdf_info_roundtrip():
    """/Info writer+parser roundtrip, including literal-string escapes."""
    from pdf_parser_spark.kernels.pdf_mini import (
        PageSpec, TextRun, build_pdf, parse_pdf,
    )

    page = PageSpec(text_runs=[TextRun(x=72, y=700, size=12, text="hello")])
    info = {
        "Title": "A (tricky) \\ title",
        "Author": "a-1",
        "CreationDate": "D:20240131120455",
    }
    doc = parse_pdf(build_pdf([page], info=info))
    assert doc.metadata == info
    assert parse_pdf(build_pdf([page])).metadata == {}


def test_image_formats_vary(spark):
    """A6 needs real variation: the synthetic corpus must carry all three
    formats and both color modes through parse -> records."""
    from pdf_parser_spark.operators import images_op

    recs = images_op.image_records(
        spark.read.parquet(G.ensure_transcripts(SF))
    ).toPandas()
    assert set(recs["format"]) == {"raw", "jpeg", "flate"}
    assert set(recs["color_mode"]) == {"rgb", "gray"}


def test_srp_banding_shrinks_buckets(spark):
    """The scale guard for embedding near-dup: 6 planes -> 64 buckets/table
    must make the largest bucket (the join's worst-case quadratic block)
    materially smaller than the 16-bucket planes=4 layout."""
    from pdf_parser_spark.operators.similarity import srp_bucket

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))

    def max_bucket(planes):
        return (
            emb.select(srp_bucket(F.col("embedding"), planes, 64).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    m4, m6 = max_bucket(4), max_bucket(6)
    assert m6 < m4 * 0.6, (m4, m6)


def test_lsh_bucket_cap_drops_floods_only(spark):
    """``max_bucket`` in all five LSH operators: a flood of identical
    docs/vectors fills its buckets past the cap, so its pairs are dropped,
    while a normal near-dup pair in small buckets survives. The incremental
    operators cap only the corpus side: a flooded batch still pairs with
    its corpus original. The registry's data never reaches the cap except
    in simhash, so this is the only check of the cap for the other four."""
    from pdf_parser_spark.operators import similarity

    flood, cap = 8, 5
    flood_ids = range(100, 100 + flood)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(df):
        return {(r[0], r[1]) for r in df.collect()}

    words = [f"a{i}" for i in range(40)]
    a, a2 = " ".join(words), " ".join(words[:-1] + ["zz"])  # one word changed
    x, y = (" ".join(f"{p}{i}" for i in range(40)) for p in "xy")
    self_docs = docs([(1, a), (2, a2)] + [(i, y) for i in flood_ids])
    new_docs = docs([(2, a2), (3, y)] + [(i, x) for i in flood_ids])
    corpus_docs = docs([(1, a), (9, x)] + [(i, y) for i in range(200, 200 + flood)])

    dims = 16
    va = [float(d % 5) - 2.0 + 0.1 * d for d in range(dims)]
    va2 = [va[0] + 0.01] + va[1:]
    vx = [float((d * 7) % 3) - 1.0 for d in range(dims)]
    vy = [(-1.0) ** d * (1 + d) for d in range(dims)]
    self_vecs = vecs([(1, va), (2, va2)] + [(i, vy) for i in flood_ids])
    new_vecs = vecs([(2, va2), (3, vy)] + [(i, vx) for i in flood_ids])
    corpus_vecs = vecs([(1, va), (9, vx)] + [(i, vy) for i in range(200, 200 + flood)])

    # self-join operators: the flood's C(8, 2) pairs are gone, (1, 2) stays
    assert pairs(dedup.minhash_lsh_pairs(self_docs, max_bucket=cap)) == {(1, 2)}
    assert pairs(dedup.simhash_hamming_pairs(self_docs, max_bucket=cap)) == {(1, 2)}
    assert pairs(
        similarity.embedding_near_dup_pairs(self_vecs, dims=dims, max_bucket=cap)
    ) == {(1, 2)}
    # incremental: the corpus flood (y) is capped, the batch flood (x) is not
    want = {(2, 1)} | {(i, 9) for i in flood_ids}
    assert pairs(
        dedup.minhash_lsh_pairs_incremental(new_docs, corpus_docs, max_bucket=cap)
    ) == want
    assert pairs(
        similarity.embedding_near_dup_incremental(
            new_vecs, corpus_vecs, dims=dims, max_bucket=cap
        )
    ) == want


def test_srp_kernel_matches_hof(spark):
    """The vectorized numpy SRP kernel must be BIT-identical to the
    interpreted HOF-fold reference (sign decisions included): same md5
    planes, same sequential float64 fold order. Covers the ann_lsh config
    (planes=4, offset 0) and both near-dup plane families (6/0 and 6/6)."""
    from pdf_parser_spark.operators.similarity import srp_bucket, with_srp_buckets

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    specs = [("k4_0", 4, 0), ("k6_0", 6, 0), ("k6_6", 6, 6)]
    fast = with_srp_buckets(emb.select("vec_id", "embedding"), "embedding", specs, 64)
    slow = emb.select(
        "vec_id",
        *[
            srp_bucket(F.col("embedding"), planes, 64, plane_offset=off).alias(name)
            for name, planes, off in specs
        ],
    )
    f = {r["vec_id"]: (r["k4_0"], r["k6_0"], r["k6_6"]) for r in fast.collect()}
    s = {r["vec_id"]: (r["k4_0"], r["k6_0"], r["k6_6"]) for r in slow.collect()}
    assert f == s


def test_connected_components_transitive(spark):
    """Chains must collapse: edges (1-2, 2-3) and (10-11) with isolated 20
    give components {1,2,3}->1, {10,11}->10, {20}->20 — pairs alone would
    under-dedup the transitive chain."""
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r["id"]: r["component"] for r in dedup.connected_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_star_components_match_label_propagation(spark):
    """Label propagation must produce the labelling a pure-Python
    union-find gives (component = min id reachable) on a long chain, a
    clique, a star and a pseudo-random graph with self-loops."""
    import random

    rng = random.Random(42)
    n = 120
    edges = [(i, i + 1) for i in range(0, 30, 1)]            # long chain
    edges += [(a, b) for a in range(40, 46) for b in range(a + 1, 46)]  # clique
    edges += [(50, x) for x in range(51, 60)]                 # star
    edges += [
        (rng.randrange(60, n), rng.randrange(60, n)) for _ in range(60)
    ]  # random (incl. self-loops to ignore)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the min id
    expected = {i: find(i) for i in range(n)}
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {
        r["id"]: r["component"]
        for r in dedup.connected_components(nodes, edf, max_iters=60).collect()
    }
    assert out == expected
    assert out[30] == 0 and out[45] == 40 and out[59] == 50


def test_star_components_round_count(spark):
    """Label propagation needs diameter-many rounds: a diameter-63 chain
    raises at ``max_iters=12`` instead of returning an over-split
    labelling, and converges to one component at ``max_iters=64`` (63
    propagating rounds plus the round that sees no change)."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(nodes, chain, max_iters=12)
    out = {
        r["id"]: r["component"]
        for r in dedup.connected_components(nodes, chain, max_iters=64).collect()
    }
    assert out == {i: 0 for i in range(n)}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iters with labels still moving yields an over-split
    labelling — that must raise, never return silently (a production corpus
    has no oracle to catch it)."""
    import pytest

    ids = list(range(8))
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in ids[:-1]], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(nodes, chain, max_iters=1)
    # enough iterations: the same chain converges and is correct
    out = {
        r["id"]: r["component"]
        for r in dedup.connected_components(nodes, chain, max_iters=10).collect()
    }
    assert out == {i: 0 for i in ids}


def test_connected_components_frees_checkpoint_blocks(spark):
    """Per-iteration localCheckpoint blocks must be explicitly unpersisted:
    only the final label generation may remain in block storage after the
    loop (the docstring used to promise this without doing it)."""
    jsc = spark.sparkContext._jsc.sc()

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    base = n_persistent()
    nodes = spark.createDataFrame([(i,) for i in range(20)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    dedup.connected_components(nodes, edges, max_iters=25).collect()
    # >= 20 checkpoints were created across the iterations; at most the
    # final labels generation should still be resident
    assert n_persistent() <= base + 1


def test_release_persisted_frees_final_label_generation(spark):
    """The final label generation is a localCheckpoint the returned plan
    reads; release_persisted() must free it, so repeated runs in one
    session return the persistent-RDD count to its base every time. The
    edges are persisted and tracked as the registry's near-dup graph is:
    the edge checkpoint materializes that persist, and its own blocks
    must still be found and freed."""
    from pyspark import StorageLevel

    from pdf_parser_spark.caching import release_persisted, track

    jsc = spark.sparkContext._jsc.sc()
    release_persisted(blocking=True)
    base = jsc.getPersistentRDDs().size()
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    for _ in range(3):
        edges = track(
            spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        out = dedup.connected_components(nodes, edges).collect()
        assert [r["component"] for r in out] == [0, 0, 0, 3, 4, 4]
        release_persisted(blocking=True)
        assert jsc.getPersistentRDDs().size() == base


@pytest.mark.parametrize(
    "name", ["simhash_digests", "neardup_components", "neardup_survivors"]
)
def test_simhash_and_neardup_match_oracles(spark, name):
    """The simhash digests and both near-dup component queries equal their
    DuckDB oracles at sf0.001, compared as scripts/check_oracles.py does:
    column names, row count and the value multiset."""
    import duckdb

    from pdf_parser_spark.caching import release_persisted
    from scripts.check_oracles import mismatches

    sdf = entrymod.queries()[name](spark, SF)
    srows = [r.asDict() for r in sdf.collect()]
    spark.catalog.clearCache()
    release_persisted()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(SF, 'documents.parquet')}'"
    )
    rel = con.sql(entrymod.oracle_sql()[name])
    orows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    assert srows
    assert mismatches(srows, sorted(sdf.columns), orows, sorted(rel.columns)) == []


_LANG_ROWS = [
    ("en", "the cat sat on the mat and most of the story is that simple"),
    ("es", "el perro corre por la plaza pero los gatos miran como una fiesta su mundo"),
    ("de", "der hund und die katze sind nicht auf das dach mit dem ball"),
    ("fr", "le chien et les chats dans une maison pour qui le temps passe au soleil"),
    ("it", "il gatto che dorme di giorno sono della casa e anche gli altri"),
    ("pt", "os gatos não são como você mas também já uma vez dormem"),
    ("nl", "het huis is niet voor een hond maar ook wel naar de zin"),
    ("zh", "今天天气很好我们一起去公园散步看花"),
    ("ja", "今日はとても良い天気なので公園へ散歩に行きましょう"),
    ("ko", "오늘 날씨가 좋아서 공원에 산책하러 갑니다"),
    ("ru", "сегодня хорошая погода и мы идем гулять в парк"),
    ("ar", "الطقس جميل اليوم ونحن ذاهبون الى الحديقة"),
    ("el", "ο καιρος ειναι καλος σημερα και παμε στο παρκο"),
    ("he", "מזג האוויר יפה היום ואנחנו הולכים לפארק"),
    ("hi", "आज मौसम अच्छा है और हम पार्क में टहलने जा रहे हैं"),
    ("und", "zxqj vvkpl wrtmn"),
    # a couple of stray CJK chars must NOT flip a Latin document (the 30%
    # dominance threshold)
    ("en", "the report mentions 東京 and the rest of the text is english for sure"),
]


def test_lang_id_discriminates_languages(spark):
    """The script cascade + marker profiles must separate all 15 languages
    (the documents fixture is ASCII-English-only, so the histogram query
    alone cannot show discrimination)."""
    from pdf_parser_spark.operators.text_stats import lang_id

    df = spark.createDataFrame(_LANG_ROWS, "expected string, text string")
    got = df.select("expected", lang_id(F.col("text")).alias("pred")).collect()
    for r in got:
        assert r["pred"] == r["expected"], (r["expected"], r["pred"])


def test_lang_id_matches_duckdb_case(spark):
    """Spark lang_id and the generated DuckDB CASE must agree row-by-row on
    the multilingual fixture — the parquet oracle data never exercises the
    non-Latin arms, so this is where the script-stage SQL gets its parity
    coverage."""
    import duckdb

    import __spark_entry__ as entry
    from pdf_parser_spark.operators.text_stats import lang_id

    df = spark.createDataFrame(_LANG_ROWS, "expected string, text string")
    spark_pred = [
        (r["text"], r["pred"])
        for r in df.select("text", lang_id(F.col("text")).alias("pred")).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for _, t in _LANG_ROWS])
    sql = f"""
WITH p AS (SELECT text, string_split_regex(trim(text), ' +') AS tk FROM t),
s AS (SELECT text, {entry._lang_score_cols()} FROM p)
SELECT text, {entry._lang_case()} AS pred FROM s
"""
    duck_pred = dict(con.sql(sql).fetchall())
    for text, pred in spark_pred:
        assert duck_pred[text] == pred, (text, pred, duck_pred[text])


_GOPHER_ROWS = [
    # clean passing doc: 56 words, sane lengths, stopwords present
    (1, " ".join(
        "the quick brown fox jumps over that lazy dog with great ease and "
        "style while the children have watched from the garden near the "
        "old house of stone that stood beyond the river bend for many "
        "years and seasons came and went with rain and sun and wind "
        "alike through every quiet month".split())),
    # duplicate-line flood: 4 lines, 2 distinct -> dup_line_frac = 0.5
    (2, "alpha beta gamma\nalpha beta gamma\ndelta epsilon zeta\nalpha beta gamma"),
    # bullet list: 3 of 4 lines bulleted
    (3, "- first item here\n* second item there\n• third item now\nplain closing line"),
    # ellipsis endings: 2 of 3 lines end with ... or …
    (4, "the story trails off...\nand continues still…\nbut ends firmly here"),
    # symbol flood: many '#' per word
    (5, "## heading ### another #### more ##### hashes everywhere ######"),
    # repeated bigram: "spam ham" dominates -> top_bigram_frac high
    (6, "spam ham spam ham spam ham spam ham spam ham"),
    # single word: empty-bigram guard path
    (7, "lonely"),
    # empty-ish / whitespace
    (8, "   "),
    # numeric doc: alpha_word_frac low
    (9, "12345 67890 11111 22222 33333 44444"),
    # C4 keeper: 5 lines, all terminal-punctuated with >= 3 words; two
    # sentences on one line push the count to 6 >= 5 -> c4_pass
    (10, "the cat sat down.\nthe dog ran off!\nwas it fast? very fast indeed.\n"
         "birds flew south.\nthe end came quietly."),
    # C4 line drops: no terminal punct / < 3 words / javascript mention;
    # only the first line survives -> 3 sentences < 5 -> no pass
    (11, "one good sentence here. another one! and three?\nno terminal punct line\n"
         "short line.\nenable javascript to continue.\ntrailing fragment"),
    # C4 page gates: enough sentences but lorem ipsum / curly brace kill it
    (12, "Lorem Ipsum dolor sit amet. more words here. and more again. "
         "fourth sentence now. fifth sentence ends."),
    (13, "function body { return x; } is code. one. two. three. four. five."),
]


def test_gopher_signals_values(spark):
    """Hand-computed expectations for each signal arm (both engines could be
    wrong together; parity alone cannot catch that)."""
    from pdf_parser_spark.operators.text_stats import gopher_signals

    df = spark.createDataFrame(_GOPHER_ROWS, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_signals(df).collect()}

    assert rows[1]["gopher_pass"] is True
    assert rows[1]["dup_line_frac"] == 0.0

    assert rows[2]["dup_line_frac"] == 0.5  # (4 - 2) / 4
    assert rows[2]["gopher_pass"] is False

    assert rows[3]["bullet_line_frac"] == 0.75
    assert rows[4]["ellipsis_line_frac"] == round(2 / 3, 6)

    assert rows[5]["symbol_ratio"] > 0.1
    assert rows[5]["gopher_pass"] is False

    # "spam ham" appears 5 times among 9 bigrams
    assert rows[6]["top_bigram_frac"] == round(5 / 9, 6)
    assert rows[6]["gopher_pass"] is False

    assert rows[7]["n_words"] == 1
    assert rows[7]["top_bigram_frac"] == 0.0

    assert rows[9]["alpha_word_frac"] == 0.0
    assert rows[9]["gopher_pass"] is False

    # C4 arm: all lines survive, 6 sentences -> page passes
    assert rows[10]["c4_kept_line_frac"] == 1.0
    assert rows[10]["c4_n_sentences"] == 6
    assert rows[10]["c4_pass"] is True

    # only the first line survives (no-punct / 2-word / javascript /
    # fragment lines all drop); 3 cleaned sentences < 5
    assert rows[11]["c4_kept_line_frac"] == 0.2
    assert rows[11]["c4_n_sentences"] == 3
    assert rows[11]["c4_pass"] is False

    # page gates: lorem ipsum (case-insensitive) and curly brace
    assert rows[12]["c4_n_sentences"] == 5
    assert rows[12]["c4_pass"] is False
    assert rows[13]["c4_n_sentences"] == 6
    assert rows[13]["c4_pass"] is False

    import hashlib
    # cleaned text of 11 is exactly its surviving first line
    assert rows[11]["c4_clean_md5"] == hashlib.md5(
        b"one good sentence here. another one! and three?"
    ).hexdigest()


def test_gopher_signals_match_duckdb(spark):
    """Row-by-row Spark vs DuckDB parity on the crafted fixture — the parquet
    documents are single-line ASCII prose, so the line-structure and
    repetition arms get their oracle-grade coverage here."""
    import duckdb

    import __spark_entry__ as entry
    from pdf_parser_spark.operators.text_stats import gopher_signals

    df = spark.createDataFrame(_GOPHER_ROWS, "doc_id long, text string")
    cols = [c for c in gopher_signals(df).columns]
    spark_rows = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in gopher_signals(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", _GOPHER_ROWS)
    duck = con.sql(entry._gopher_sql("docs")).fetchall()
    duck_cols = [d[0] for d in con.sql(entry._gopher_sql("docs")).description]
    assert duck_cols == cols
    for row in duck:
        d = dict(zip(duck_cols, row))
        assert spark_rows[d["doc_id"]] == tuple(d[c] for c in cols), d


_PII_ROWS = [
    (1, "mail me at jane.doe+x@example.co.uk or bob@site.org today"),
    (2, "call 555-123-4567 or 555.987.6543, server at 192.168.1.10"),
    (3, "mixed: a@b.io then 10.0.0.1 then 800-555-0100 done"),
    (4, "clean text with no identifiers at all"),
]


def test_pii_signals_values_and_redaction(spark):
    """Hand-computed PII counts + exact redaction md5 on crafted docs."""
    import hashlib

    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.text_stats import pii_signal_cols, redact_pii

    df = spark.createDataFrame(_PII_ROWS, "doc_id long, text string")
    cols = pii_signal_cols(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[e.alias(n) for n, e in cols.items()],
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (2, 0, 0)
    assert (rows[2]["n_email"], rows[2]["n_phone"], rows[2]["n_ipv4"]) == (0, 2, 1)
    assert (rows[3]["n_email"], rows[3]["n_phone"], rows[3]["n_ipv4"]) == (1, 1, 1)
    assert (rows[4]["n_email"], rows[4]["n_phone"], rows[4]["n_ipv4"]) == (0, 0, 0)
    assert rows[1]["red"] == "mail me at <email> or <email> today"
    assert rows[2]["red"] == "call <phone> or <phone>, server at <ipv4>"
    assert rows[3]["red"] == "mixed: <email> then <ipv4> then <phone> done"
    for r in rows.values():
        assert r["redacted_md5"] == hashlib.md5(r["red"].encode()).hexdigest()


def test_pii_signals_match_duckdb(spark):
    """Spark vs DuckDB parity for the PII arm of the token_stats oracle on
    the crafted fixture (the parquet documents carry no PII, so the driver
    row is parity-only there)."""
    import duckdb

    import __spark_entry__ as entry
    from pdf_parser_spark.operators.text_stats import token_profile

    df = spark.createDataFrame(_PII_ROWS, "doc_id long, text string")
    cols = token_profile(df).columns
    spark_rows = {
        r["doc_id"]: tuple(r[c] for c in cols) for r in token_profile(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _PII_ROWS)
    # the SQL-expressible arm only: the full oracle also joins the exact-BPE
    # golden parquet, which is keyed to the driver's sf0.01 doc ids, not
    # this crafted in-memory fixture (the BPE arm has its own parity test)
    res = con.sql(entry._TOKEN_STATS_BASE_SQL)
    duck_cols = [d[0] for d in res.description]
    assert duck_cols == cols
    for row in res.fetchall():
        d = dict(zip(duck_cols, row))
        assert spark_rows[d["doc_id"]] == tuple(d[c] for c in duck_cols), d


def test_decontamination_planted_hits_and_clean_misses(spark):
    """A corpus doc containing an eval 13-gram is flagged with the right
    overlap fraction; word-reversed eval docs never match; a fully-leaked
    eval doc reports eval_frac = 1.0."""
    from pdf_parser_spark.operators import dedup

    w = [f"word{i}" for i in range(40)]
    corpus = spark.createDataFrame(
        [
            (1, " ".join(w)),                      # source of the leak
            (2, " ".join(f"other{i}" for i in range(40))),  # unrelated
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (100, " ".join(w[10:40])),             # 30-word window of doc 1
            (101, " ".join(reversed(w))),          # reversed: no match
            (102, " ".join(w[0:13])),              # exactly one 13-gram
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["corpus_id"], r["eval_id"]): r
        for r in dedup.decontamination_hits(corpus, evals, k=13).collect()
    }
    assert set(rows) == {(1, 100), (1, 102)}
    assert rows[(1, 100)]["n_matched"] == 30 - 13 + 1
    assert rows[(1, 100)]["eval_frac"] == 1.0
    assert rows[(1, 102)]["n_matched"] == 1
    assert rows[(1, 102)]["eval_frac"] == 1.0


def test_decontamination_broadcasts_eval_side(spark):
    """Plan pin: the eval shingle table must broadcast (the corpus side
    streams at scan speed; a SortMergeJoin on the shingle would shuffle
    the whole corpus shingle stream at 100 TB)."""
    import __spark_entry__ as em
    from pdf_parser_spark.plans import physical_plan

    spark.catalog.clearCache()
    plan = physical_plan(em.q_decontamination_hits(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_kernel_semantics():
    """The merge loop must reproduce classic BPE: common training words
    collapse to one token, unseen words stay near character granularity,
    digit runs count ceil(len/3), symbols one each; training is
    deterministic (pure function of the embedded fixture)."""
    from pdf_parser_spark.kernels.bpe import (
        bpe_token_count,
        count_batch,
        default_ranks,
        train_merges,
    )

    assert train_merges() == train_merges()
    r = default_ranks()
    assert bpe_token_count("the", r) == 1
    assert bpe_token_count("The", r) == 1          # case-folded
    assert bpe_token_count("attention", r) == 1
    assert bpe_token_count("xyzzyq", r) == 6       # unseen: per-char
    assert bpe_token_count("12345", r) == 2        # ceil(5/3)
    assert bpe_token_count("!!", r) == 2
    assert bpe_token_count("", r) == 0
    # tiny explicit table: merge priority order must matter
    tiny = {("a", "b"): 0, ("ab", "c"): 1}
    assert bpe_token_count("abc", tiny) == 1
    assert bpe_token_count("acb", tiny) == 3
    # batch path == scalar path
    texts = ["the quick fox", "attention!", None, ""]
    assert count_batch(texts, r) == [
        bpe_token_count(t if isinstance(t, str) else "", r) for t in texts
    ]


def test_bpe_spark_matches_single_node_kernel(spark):
    """Two-harness parity for the exact-BPE arm: the mapInPandas wrapper
    (broadcast merge table) must equal the single-node kernel per doc, and
    the exact count must be bounded by the word-count floor."""
    import os

    from pdf_parser_spark.kernels.bpe import count_batch
    from pdf_parser_spark.operators.text_stats import with_bpe_token_count

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).select(
        "doc_id", "text"
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in with_bpe_token_count(docs).collect()
    }
    pdf = docs.toPandas()
    want = dict(zip(pdf["doc_id"], count_batch(pdf["text"])))
    assert got == want
    assert all(v > 0 for v in got.values())
