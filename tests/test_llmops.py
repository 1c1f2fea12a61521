"""LLM-pipeline operator quality gates: approximate operators validated
against exact ground truth (bloom-style contract: bounded false positives,
near-zero false negatives)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_source_spark.data import table
from hadoop_source_spark.llmops import dedup as dd
from hadoop_source_spark.llmops import multimodal as mm
from hadoop_source_spark.llmops import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF, "documents")


def test_minhash_recall_precision(spark, docs):
    exact = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    approx = {(r.id_a, r.id_b) for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    inter = len(exact & approx)
    recall = inter / max(len(exact), 1)
    precision = inter / max(len(approx), 1)
    assert recall >= 0.9, f"recall {recall} (exact={len(exact)}, approx={len(approx)})"
    assert precision >= 0.8, f"precision {precision}"


def test_minhash_verified_equals_exact_jaccard(spark, docs):
    """LSH candidates + exact verification must reproduce the all-pairs
    exact Jaccard result bit-for-bit (this is what makes the registered
    dedup_minhash_lsh query oracle-comparable)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_verified_pairs(docs, threshold=0.5).collect()
    }
    assert verified == exact and len(exact) > 0


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different content about spark engines and parquet files")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in dd.simhash_dup_pairs(df, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "same"), (2, "same"), (9, "other")], "doc_id long, text string"
    )
    rows = {r.text_hash: r for r in dd.exact_dedup(df).collect()}
    assert len(rows) == 2
    by_copies = {r.n_copies: r.doc_id for r in rows.values()}
    assert by_copies[2] == 2  # min id survives
    assert by_copies[1] == 9


def test_lsh_topk_recall_vs_brute_force(spark):
    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in sim.brute_force_topk(e, q, k=10).collect()}
    approx = {(r.query_id, r.vec_id) for r in sim.lsh_topk(e, q, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH top-k recall {recall}"  # approximate by design


def test_ivf_topk_recall_vs_brute_force(spark):
    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in sim.brute_force_topk(e, q, k=10).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in sim.ivf_topk(e, q, k=10, num_cells=8, nprobe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF top-k recall {recall}"


def test_ivf_topk_query_collect_cap_enforced(spark):
    """ivf_topk collects the query side to the driver for probe
    selection; the nq bound must be a contract, not a comment (r15):
    an over-cap query side raises loudly instead of collecting."""
    e = table(spark, SF, "embeddings")
    dim = len(e.select("embedding").first()[0])
    big_q = spark.range(sim._IVF_QUERY_CAP + 1).select(
        F.col("id").alias("query_id"),
        F.array_repeat((F.col("id") % 7).cast("float") + 1.0, dim).alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="ivf_topk_bipartite"):
        sim.ivf_topk(e, big_q, k=3, num_cells=4, nprobe=2)


def test_semdedup_auto_cells_scales_with_corpus(spark):
    """num_cells=None auto-scales to ~sqrt(N) (r15): cell count follows
    the corpus, and planted near-identical dups are still dropped."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(256)]
    for i in range(8):  # plant near-identical copies of ids 0..7
        v = [x + 1e-4 for x in rows[i][1]]
        rows.append((1000 + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.semdedup(df, num_cells=None, threshold=0.98).collect()
    n_cells = len({r.cell for r in out})
    # isqrt(264) = 16; Lloyd may leave a cell empty, so allow a margin
    assert 8 <= n_cells <= 16, n_cells
    dropped = {r.vec_id for r in out if r.keep == 0}
    assert dropped == {1000 + i for i in range(8)}


def test_skew_caps_identity_above_and_prune_below(spark, docs):
    """df_cap (hot-shingle stop list) and bucket_cap (hot simhash bucket
    drop) must be identity when the cap exceeds every frequency, and only
    ever REMOVE pairs when binding — never invent them."""
    base = {
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    hi = {
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_pairs(
            docs, threshold=0.5, df_cap=10**6
        ).collect()
    }
    assert hi == base
    # a binding cap redefines the shingle universe, so the pair set can
    # shift in either direction — assert it binds (fixture is stable)
    lo = {
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=3).collect()
    }
    assert lo != base and len(lo) < len(base)

    s_base = {
        (r.id_a, r.id_b) for r in dd.simhash_dup_pairs(docs).collect()
    }
    assert {
        (r.id_a, r.id_b)
        for r in dd.simhash_dup_pairs(docs, bucket_cap=10**6).collect()
    } == s_base
    s_lo = {
        (r.id_a, r.id_b)
        for r in dd.simhash_dup_pairs(docs, bucket_cap=2).collect()
    }
    assert s_lo <= s_base


def test_blocked_embedding_dedup_equals_all_pairs(spark):
    """The blocked block-pair kernel (registered query, no driver corpus)
    must emit exactly the same pair set + cosines as the closure-captured
    all-pairs ground truth."""
    e = table(spark, SF, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.embedding_dup_pairs(e, threshold=0.4).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.embedding_dup_pairs_blocked(
            e, threshold=0.4, num_blocks=5
        ).collect()
    }
    assert blocked == exact and len(exact) > 0


def test_counting_bloom_multiplicity_and_delete(spark):
    from hadoop_source_spark.functions import bloom

    M, K = 1 << 16, 5
    df = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 1, "key string"
    )
    cbf = bloom.counting_bloom_build(df, "key", M, K)
    probes = spark.createDataFrame([("a",), ("b",), ("zzz",)], "key string")
    got = {
        r.key: r.approx_count
        for r in bloom.counting_bloom_approx_count(cbf, probes, "key", M, K).collect()
    }
    assert got["a"] >= 3 and got["b"] >= 1  # never under-counts
    assert got["zzz"] <= 1  # fp slack only
    # delete one 'a'
    cbf2 = bloom.counting_bloom_delete(
        cbf, spark.createDataFrame([("a",)], "key string"), "key", M, K
    )
    got2 = {
        r.key: r.approx_count
        for r in bloom.counting_bloom_approx_count(cbf2, probes, "key", M, K).collect()
    }
    assert got2["a"] >= 2 and got2["b"] >= 1


def test_multimodal_meta_plumbing(spark, docs):
    out = mm.extract_meta(mm.with_payload(docs)).collect()
    assert len(out) == docs.count()
    one = next(r for r in out)
    assert len(one.md5) == 32 and one.n_bytes > 0
    assert 0 <= one.fake_width < 1920


def test_multimodal_resize_frames_features(spark, docs):
    """The full multimodal UDF surface: resize (bytes→thumbnail+dims),
    frame sampling (row-expanding kernel), feature extraction (payload→
    unit vector) — and the features compose with the ANN operators."""
    payloads = mm.with_payload(docs.limit(40), "text", "doc_id")

    thumbs = mm.resize_images(payloads, width=32, height=32)
    rows = thumbs.collect()
    assert len(rows) == 40
    assert all(r.width == 32 and len(r.thumbnail) > 0 for r in rows)
    again = {r.doc_id: bytes(r.thumbnail) for r in mm.resize_images(
        payloads, width=32, height=32).collect()}
    assert {r.doc_id: bytes(r.thumbnail) for r in rows} == again  # determinism

    frames = mm.sample_frames(payloads, num_frames=4, frame_bytes=8)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert len(per_doc) == 40 and all(r["count"] == 4 for r in per_doc)
    assert all(
        len(r.frame) <= 8 for r in frames.limit(20).collect()
    )

    feats = mm.embed_features(payloads, dim=16)
    import numpy as np

    vs = feats.collect()
    assert len(vs) == 40 and all(len(r.features) == 16 for r in vs)
    assert all(
        abs(np.linalg.norm(r.features) - 1.0) < 1e-5 for r in vs
    )
    # composition: multimodal features drive the exact ANN operator
    q = feats.limit(3).select(
        F.col("doc_id").alias("query_id"), F.col("features").alias("embedding")
    )
    corpus = feats.select("doc_id", F.col("features").alias("embedding"))
    top = sim.brute_force_topk(
        corpus, q, k=3, id_col="doc_id", vec_col="embedding"
    )
    got = {(r.query_id, r.rank): r.doc_id for r in top.collect()}
    # rank 1 of each query is the query itself (cosine 1.0)
    assert all(got[(qid, 1)] == qid for qid in {k[0] for k in got})


def test_decode_image_rejects_non_image_payloads(spark, docs):
    """decode_image is REAL for BMP/PPM now (test_imagecodec.py); text
    payloads have no image magic and must fail loudly in raise mode."""
    with pytest.raises(Exception, match="unknown image payload"):
        mm.decode_image(mm.with_payload(docs)).collect()
    # JPEG decode is real now (test_jpegcodec.py); a payload that only
    # fakes the magic must still fail loudly, as a corrupt stream
    jpeg = spark.createDataFrame(
        [(1, b"\xff\xd8\xe0fake-jpeg-bytes")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="without a scan"):
        mm.decode_image(jpeg).collect()


def test_fingerprint_stable_and_noise_robust(spark):
    from hadoop_source_spark.llmops.textstats import fingerprint

    df = spark.createDataFrame(
        [(1, "hello world this is a document"),
         (2, "  hello   world this is a document  "),
         (3, "entirely different text")],
        "id long, text string",
    )
    fp = {r.id: r.f for r in df.select("id", fingerprint(F.col("text")).alias("f")).collect()}
    assert fp[1] == fp[2]  # whitespace-normalized
    assert fp[1] != fp[3]


def test_lloyd_deterministic_and_covers_cells():
    import numpy as np

    from hadoop_source_spark.llmops.similarity import _lloyd

    rng = np.random.RandomState(7)
    # 4 well-separated blobs
    x = np.concatenate(
        [rng.randn(50, 8) * 0.05 + c for c in (0.0, 5.0, 10.0, 15.0)]
    )
    c1 = _lloyd(x, 4, iters=10, seed=42)
    c2 = _lloyd(x, 4, iters=10, seed=42)
    assert (c1 == c2).all()  # deterministic
    # every blob center recovered to within its spread
    means = np.array([x[i * 50:(i + 1) * 50].mean(axis=0) for i in range(4)])
    d = ((means[:, None, :] - c1[None, :, :]) ** 2).sum(axis=2)
    assert (d.min(axis=1) < 0.1).all()
    # k > distinct blobs: empty-cell reseed keeps all centroids finite
    c3 = _lloyd(x[:8], 8, iters=5, seed=42)
    import math
    assert all(math.isfinite(v) for v in c3.ravel())


def test_minhash_with_sets_jaccard_matches_jvm_shingles(spark, docs):
    """Exact Jaccard computed over the kernel's shset must equal Jaccard
    over the JVM shingle_hashes sets (hash-family independence): same
    verified pair set at the 0.5 threshold, same values to 6dp."""
    via_kernel = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_verified_pairs(
            docs, threshold=0.5
        ).collect()
    }
    via_jvm = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert via_kernel == via_jvm


def test_minhash_with_sets_short_docs(spark):
    """Docs shorter than the shingle width still get a non-empty shset
    (one whole-doc gram), and identical short docs get identical sets."""
    df = spark.createDataFrame(
        [(1, "hi"), (2, "hi"), (3, "yo there"), (4, "")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: list(r.shset)
        for r in dd.minhash_signatures(df, with_sets=True).collect()
    }
    assert len(rows) == 4
    assert all(len(v) >= 1 for v in rows.values())
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_band_candidate_pairs_slim_equals_carry(spark, docs):
    """The slim (no-carry) band join must produce exactly the same
    candidate id pairs as the signature-carrying variant."""
    sigs = dd.minhash_signatures(docs).localCheckpoint()
    slim = {
        (r.id_a, r.id_b)
        for r in dd._band_candidate_pairs(sigs, "doc_id", 64, 16).collect()
    }
    carried = {
        (r.id_a, r.id_b)
        for r in dd._band_candidate_pairs(
            sigs, "doc_id", 64, 16, carry="signature"
        ).collect()
    }
    assert slim == carried and len(slim) > 0


def test_ivf_topk_deterministic_with_train_fraction(spark):
    """End-to-end IVF determinism THROUGH the sampled training path.
    Guards a PySpark sample() footgun: a positional fraction in the
    withReplacement slot silently drops an explicit seed, making the
    quantizer (and thus the probe set) random per call."""
    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    runs = [
        {(r.query_id, r.vec_id, r.rank)
         for r in sim.ivf_topk(
             e, q, k=10, num_cells=8, nprobe=3, train_fraction=0.5
         ).collect()}
        for _ in range(2)
    ]
    assert runs[0] == runs[1]


def test_repetition_stats_ground_truth(spark):
    """repetition_stats metrics == a pure-Python recompute on crafted docs
    spanning keep=1 (varied) and keep=0 (repetitive)."""
    from collections import Counter

    from hadoop_source_spark.llmops import textstats as ts

    docs = [
        (0, "a quick brown fox jumps over the lazy dog near my river bank"),
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, "a b c a b c a b c a b c a b c"),
    ]
    sdf = ts.repetition_stats(
        spark.createDataFrame(docs, ["doc_id", "text"]), "text", "doc_id"
    )
    got = {r["doc_id"]: r.asDict() for r in sdf.collect()}
    for doc_id, text in docs:
        w = text.split(" ")
        c = Counter(w)
        grams = [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]
        r = got[doc_id]
        assert r["n_words"] == len(w)
        assert r["distinct_word_ratio"] == round(len(c) / len(w), 6)
        assert r["top_word_frac"] == round(max(c.values()) / len(w), 6)
        assert r["dup_3gram_frac"] == round(1 - len(set(grams)) / len(grams), 6)
        assert r["mean_word_len"] == round(
            sum(len(x) for x in w) / len(w), 6
        )
    assert got[0]["keep"] == 1 and got[1]["keep"] == 0 and got[2]["keep"] == 0


def test_boilerplate_ngrams_ground_truth(spark):
    """boilerplate_ngrams: a 5-gram shared by >=2 docs is boilerplate;
    per-doc fractions and keep flags match a hand computation."""
    from hadoop_source_spark.llmops import textstats as ts

    shared = "one two three four five"
    docs = [
        (0, shared + " alpha beta gamma delta epsilon zeta"),
        (1, shared + " zeta epsilon delta gamma beta alpha"),
        (2, "u v w x y z aa bb cc dd"),
    ]
    sdf = ts.boilerplate_ngrams(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        "text", "doc_id", n=5, min_df=2,
    )
    got = {r["doc_id"]: r.asDict() for r in sdf.collect()}
    # docs 0/1: 11 words -> 7 distinct 5-grams each; only the pure
    # `shared` gram (positions 0..4) is common to both.
    assert got[0]["n_grams"] == 7 and got[0]["n_boiler"] == 1
    assert got[1]["n_boiler"] == 1
    assert got[0]["boiler_frac"] == round(1 / 7, 6)
    assert got[0]["keep"] == 1
    # doc 2 shares nothing
    assert got[2]["n_boiler"] == 0 and got[2]["keep"] == 1


def test_semdedup_planted_duplicates(spark):
    """SemDeDup's contract case: near-identical embeddings (the paper
    dedups at cosine ~0.95+) MUST co-cluster and be dropped — recall 1.0
    on planted dups, zero false drops, keep-lowest-id."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant near-identical copies of vectors 0..9 at ids 100..109
    for i in range(10):
        v = base[i] + rng.randn(16) * 1e-3
        rows.append((100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.semdedup(df, num_cells=4, threshold=0.98).collect()
    dropped = {r.vec_id for r in out if r.keep == 0}
    assert dropped == {100 + i for i in range(10)}
    # planted copies report their twin's similarity
    sims = {r.vec_id: r.nn_sim for r in out}
    assert all(sims[100 + i] >= 0.98 for i in range(10))


def test_semdedup_kept_set_invariant_and_determinism(spark):
    """Within every cell the kept set is pairwise sub-threshold (the
    greedy keep-first guarantee), and the operator is deterministic."""
    import numpy as np

    emb = table(spark, SF, "embeddings")
    out1 = sorted(
        (r.vec_id, r.cell, r.keep)
        for r in sim.semdedup(emb, num_cells=8, threshold=0.4).collect()
    )
    out2 = sorted(
        (r.vec_id, r.cell, r.keep)
        for r in sim.semdedup(emb, num_cells=8, threshold=0.4).collect()
    )
    assert out1 == out2
    vecs = {r.vec_id: np.asarray(r.embedding) for r in emb.collect()}
    from collections import defaultdict

    kept = defaultdict(list)
    for vid, cell, keep in out1:
        if keep:
            kept[cell].append(vid)
    for cell, ids in kept.items():
        x = np.asarray([vecs[i] for i in ids])
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        g = np.tril(xn @ xn.T, -1)
        assert (g < 0.4).all(), f"cell {cell} kept a near-dup pair"


def test_perplexity_separates_reference_like_from_gibberish(spark):
    """The LM quality filter's contract: text drawn from the reference
    distribution scores (much) lower perplexity than out-of-vocabulary
    gibberish, and known-bigram text beats shuffled text."""
    from hadoop_source_spark.llmops import textstats as ts

    train_sent = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, train_sent) for i in range(8)]
    rows += [
        (100, "the cat sat on the mat"),          # in-distribution
        (101, "mat the on sat cat the"),          # same words, wrong order
        (102, "zqx vbn wklp zzyx qqpo mnbv"),     # pure OOV gibberish
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ts.perplexity_score(
        df, df.filter(F.col("doc_id") < 100), "text", "doc_id"
    )
    ppl = {r.doc_id: r.perplexity for r in out.collect()}
    # in-distribution text beats both corruptions; the two corruptions'
    # relative order is a smoothing artifact (unknown heads share a
    # V-sized denominator) and deliberately not asserted
    assert ppl[100] < ppl[101] and ppl[100] < ppl[102]
    assert ppl[100] < 5 and ppl[101] > 15 and ppl[102] > 5


def test_decode_image_png_through_spark_pipeline(spark):
    """PNG payloads flow through the full decode → resize → features
    Spark surface exactly like BMP/PPM: the compressed codec is now a
    first-class member of the corpus path."""
    import numpy as np

    from hadoop_source_spark.llmops import imagecodec as ic

    rng = np.random.RandomState(9)
    rows = [
        (int(i), bytearray(ic.encode_png(
            rng.randint(0, 256, (12 + i, 10, 3), dtype=np.uint8)
        )))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in mm.decode_image(df).collect()}
    assert len(out) == 6
    assert all(r.codec == "png" and r.width == 10 for r in out.values())
    assert out[3].height == 15
    thumbs = mm.resize_images(df, width=4, height=4).collect()
    assert len(thumbs) == 6 and all(len(r.thumbnail) > 0 for r in thumbs)


def test_duplicate_span_stats_planted(spark):
    """duplicate_span_stats finds exactly the planted shared 8-token
    windows: a run shared across two docs marks each covered position in
    both; a full copy marks every position; short docs have zero spans;
    within-doc repetition alone does NOT count (cross-doc only)."""
    from hadoop_source_spark.llmops import dedup as dd

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 toks
    docs = [
        (0, shared + " one two three four five six seven eight"),
        (1, "nine ten eleven twelve " + shared),
        (2, "unique words only here nothing shared at all today friend"),
        (3, "too short to span"),
        (4, docs_4 := "copy copy copy copy copy copy copy copy copy"),
        (5, docs_4),
        (6, "solo solo solo solo solo solo solo solo solo solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.asDict()
        for r in dd.duplicate_span_stats(df, "text", "doc_id", k=8).collect()
    }
    # doc0: 16 toks -> 9 spans; only the span starting at pos 1 is the
    # shared run (later windows mix in unique tail tokens)
    assert out[0]["n_spans"] == 9 and out[0]["n_dup_spans"] == 1
    # doc1: 12 toks -> 5 spans; only the final window is the shared run
    assert out[1]["n_spans"] == 5 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_dup_spans"] == 0 and out[2]["keep"]
    assert out[3]["n_spans"] == 0 and out[3]["dup_frac"] == 0.0 and out[3]["keep"]
    # full copies: every position duplicated in both -> dropped
    for i in (4, 5):
        assert out[i]["n_spans"] == 2 and out[i]["n_dup_spans"] == 2
        assert out[i]["dup_frac"] == 1.0 and not out[i]["keep"]
    # doc6 repeats a token within itself but shares nothing cross-doc
    assert out[6]["n_dup_spans"] == 0 and out[6]["keep"]


def test_dsir_selects_target_like_docs(spark):
    """DSIR weights must separate the target slice from the rest: mean
    weight of English docs strictly above mean weight of non-English
    docs, and the hashed-feature scale path (bounded feature width) must
    agree with exact string features on nearly all selections."""
    from pyspark.sql import functions as F

    from hadoop_source_spark.data import table
    from hadoop_source_spark.llmops import selection as dsel

    d = table(spark, "/root/testdata/sf0.001", "documents")
    target = d.filter(F.col("lang") == "en").select("doc_id")
    exact = dsel.dsir_weights(d, target, "text", "doc_id")
    by_lang = {
        r.is_en: r.w
        for r in exact.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("dsir_logratio").alias("w"))
        .collect()
    }
    assert by_lang[True] > by_lang[False]

    sel_exact = {
        r.doc_id for r in exact.filter("selected").collect()
    }
    assert sel_exact, "selection must be non-trivial"
    hashed = dsel.dsir_weights(
        d, target, "text", "doc_id", hash_buckets=4096
    )
    sel_hash = {r.doc_id for r in hashed.filter("selected").collect()}
    jac = len(sel_exact & sel_hash) / len(sel_exact | sel_hash)
    assert jac >= 0.9, jac
    # deterministic: identical on re-run
    again = {
        r.doc_id
        for r in dsel.dsir_weights(
            d, target, "text", "doc_id", hash_buckets=4096
        ).filter("selected").collect()
    }
    assert again == sel_hash


def test_dsir_duplicate_target_ids_do_not_double_count(spark):
    """r14: raw+target counts fuse into one aggregation via a left-join
    target flag. The old left_semi was indifferent to duplicate target
    ids; the fused shape must be too — duplicated target rows must
    change neither the weights nor the selection."""
    from pyspark.sql import functions as F  # noqa: F401

    from hadoop_source_spark.data import table
    from hadoop_source_spark.llmops import selection as dsel

    d = table(spark, "/root/testdata/sf0.001", "documents")
    target = d.filter(F.col("lang") == "en").select("doc_id")
    base = sorted(
        map(tuple, dsel.dsir_weights(d, target, "text", "doc_id").collect())
    )
    dup = sorted(
        map(
            tuple,
            dsel.dsir_weights(
                d, target.unionByName(target), "text", "doc_id"
            ).collect(),
        )
    )
    assert base == dup


def test_bpe_learn_and_apply(spark):
    """BPE training + distributed application: learned merges are
    deterministic, reconstruct words exactly (concatenating a word's
    pieces == word + </w>), compress monotonically with more merges,
    and after enough merges the most frequent word becomes ONE piece.
    The classic toy corpus pins the first merge: 'es', 'st' and 't</w>'
    all tie at count 9 and the lexicographic-min tie rule picks
    ('e', 's') — the merge the original paper's example makes."""
    from pyspark.sql import functions as F

    from hadoop_source_spark.data import table
    from hadoop_source_spark.llmops import bpe

    # Sennrich-style toy: 'es' dominates pair counts
    toy = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe.learn_bpe(toy, 10)
    assert merges == bpe.learn_bpe(toy, 10)
    assert merges[0] == ("e", "s"), merges[0]
    ranks = {p: i for i, p in enumerate(merges)}
    for w, _ in toy:
        pieces = bpe.encode_word(w, ranks)
        assert "".join(pieces) == w + "</w>", (w, pieces)

    d = table(spark, "/root/testdata/sf0.001", "documents")
    wf = bpe.word_frequencies(d, "text", top_v=5000)
    assert wf == bpe.word_frequencies(d, "text", top_v=5000)
    m50 = bpe.learn_bpe(wf, 50)
    m400 = bpe.learn_bpe(wf, 400)
    assert m400[:50] == m50  # merge list is a prefix-stable sequence
    out50 = {r.doc_id: r.n_pieces for r in bpe.apply_bpe(d, m50).collect()}
    out400 = {r.doc_id: r.n_pieces for r in bpe.apply_bpe(d, m400).collect()}
    assert all(out400[i] <= out50[i] for i in out50)
    assert sum(out400.values()) < sum(out50.values())
    # the most frequent word collapses to a single piece
    top_word = wf[0][0]
    assert bpe.encode_word(top_word, {p: i for i, p in enumerate(m400)}) == [
        top_word + "</w>"
    ]
    # words-per-doc from the kernel equals the JVM tokenizer's count
    nw = {r.doc_id: r.n_words for r in bpe.apply_bpe(d, m50).collect()}
    from hadoop_source_spark.llmops.dedup import tokens
    want = {
        r.doc_id: r.n
        for r in d.select("doc_id", F.size(tokens(F.col("text"))).alias("n")).collect()
    }
    assert nw == want


def test_quality_classifier_separates_planted_corpora(spark):
    """Trained logistic quality classifier: on a planted corpus where
    good docs draw from vocabulary A and bad docs from vocabulary B,
    held-out accuracy must be >= 0.95; training is deterministic; and
    the distributed scorer agrees with a driver-side recomputation of
    sigmoid(bias + mean weight) on a spot-checked doc."""
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_source_spark.llmops import quality_model as qm

    rng = np.random.default_rng(5)
    good_vocab = [f"good{i}" for i in range(50)]
    bad_vocab = [f"bad{i}" for i in range(50)]
    rows = []
    for i in range(400):
        vocab = good_vocab if i % 2 == 0 else bad_vocab
        rows.append((i, " ".join(rng.choice(vocab, 30)), i % 2 == 0))
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, int(g)) for i, _, g in rows], "doc_id long, label int"
    )
    train_ids = {i for i, _, _ in rows if i < 300}
    w, b = qm.train_quality_classifier(
        df.filter(F.col("doc_id") < 300), labels, iters=300
    )
    w2, b2 = qm.train_quality_classifier(
        df.filter(F.col("doc_id") < 300), labels, iters=300
    )
    assert np.array_equal(w, w2) and b == b2
    scored = qm.score_quality(df, w, b).collect()
    held = [r for r in scored if r.doc_id not in train_ids]
    acc = sum(
        1 for r in held if (r.quality_score >= 0.5) == (r.doc_id % 2 == 0)
    ) / len(held)
    assert acc >= 0.95, acc
    # spot-check the distributed scorer against driver math
    doc = next(r for r in rows if r[0] == 350)
    toks = doc[1].split()
    z = b + sum(w[hash_bucket_py(t)] for t in toks) / len(toks)
    want = 1.0 / (1.0 + np.exp(-z))
    got = next(r.quality_score for r in scored if r.doc_id == 350)
    assert abs(got - want) < 1e-4, (got, want)


def hash_bucket_py(tok: str) -> int:
    """xxhash64(tok, seed=42) % 4096 via a one-off Spark lookup cache."""
    global _BUCKET_CACHE
    try:
        return _BUCKET_CACHE[tok]
    except (NameError, KeyError):
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = SparkSession.getActiveSession()
        df = spark.createDataFrame([(tok,)], "t string").select(
            F.expr("pmod(xxhash64(t), 4096)").alias("b")
        )
        val = df.collect()[0].b
        try:
            _BUCKET_CACHE[tok] = val
        except NameError:
            _BUCKET_CACHE = {tok: val}
        return val


def test_shard_writer_bounded_deterministic_lossless(spark, tmp_path):
    """write_shards: every shard except the last holds exactly
    rows_per_shard rows, reading the directory back recovers the exact
    row set, two writes produce identical shard membership, and the
    manifest's id_sum checksums match a recomputation from the files."""
    from pyspark.sql import functions as F

    from hadoop_source_spark.data import table
    from hadoop_source_spark.llmops import sampling as smp
    from hadoop_source_spark.llmops import shards

    d = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", smp.hash_bucket("doc_id", 7).alias("hk")
    )
    n = d.count()
    order = ["hk", "doc_id"]
    out1 = str(tmp_path / "s1")
    m1 = {r.shard_id: r for r in shards.write_shards(d, out1, order, 16).collect()}
    sizes = [m1[s].n_rows for s in sorted(m1)]
    assert all(x == 16 for x in sizes[:-1]) and 0 < sizes[-1] <= 16
    assert sum(sizes) == n
    back = spark.read.parquet(out1)
    assert back.count() == n
    assert {r.doc_id for r in back.collect()} == {r.doc_id for r in d.collect()}
    per_shard = {
        r.shard_id: r.s
        for r in back.groupBy("shard_id").agg(F.sum("doc_id").alias("s")).collect()
    }
    assert per_shard == {s: m1[s].id_sum for s in m1}
    # contiguous position ranges
    for s in sorted(m1):
        assert m1[s].min_pos == s * 16
        assert m1[s].max_pos == s * 16 + m1[s].n_rows - 1
    # deterministic across writes
    out2 = str(tmp_path / "s2")
    m2 = {r.shard_id: r for r in shards.write_shards(d, out2, order, 16).collect()}
    assert {s: (m2[s].n_rows, m2[s].id_sum) for s in m2} == {
        s: (m1[s].n_rows, m1[s].id_sum) for s in m1
    }


def test_bm25_ranking_semantics(spark):
    """BM25 orders by term overlap and rarity: a doc containing both
    query terms outranks single-term docs; a doc full of a common term
    is discounted vs one matching a rare term; self-retrieval ranks
    first when the query IS a document's own tokens."""
    from hadoop_source_spark.llmops import textstats as ts

    corpus = spark.createDataFrame(
        [
            (1, "apple banana cherry"),          # both query terms
            (2, "apple apple apple apple"),      # common term, many times
            (3, "banana date"),                  # rare term once
            (4, "cherry date elderberry"),       # no query terms
            (5, "apple fig"),                    # common term once
        ],
        "doc_id long, text string",
    )
    # 'apple' appears in 3 docs (common), 'banana' in 2 (rarer)
    queries = spark.createDataFrame(
        [(100, "apple"), (100, "banana")], "query_id long, term string"
    )
    got = ts.bm25_rank(corpus, queries, top_k=5).collect()
    ranked = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    assert ranked[0] == 1                  # two-term match wins
    assert 4 not in ranked                 # zero-overlap doc never scored
    # the rare-term doc (3) must beat the single common-term doc (5)
    assert ranked.index(3) < ranked.index(5)
    # scores strictly positive and non-increasing in rank order
    scores = [r.score for r in sorted(got, key=lambda r: r.rank)]
    assert all(s > 0 for s in scores) and scores == sorted(scores, reverse=True)


def test_duplicate_span_rewrite_keep_one_copy(spark):
    """Span rewrite removes cross-doc duplicated k-grams everywhere but
    the lowest-id owner; unique text and within-doc repetition survive."""
    boiler = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    corpus = spark.createDataFrame(
        [
            (1, boiler + " unique one two three"),
            (2, boiler + " other tail words here"),
            (3, "totally fresh text with no shared spans at all"),
            (4, "rep rep rep rep rep rep rep rep"),  # within-doc only
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           dd.duplicate_span_rewrite(corpus, k=8).collect()}
    # owner (doc 1) keeps everything
    assert got[1].n_removed == 0
    assert got[1].clean_text.startswith(boiler)
    # doc 2 loses exactly the 8 boilerplate tokens, keeps its tail
    assert got[2].n_removed == 8
    assert got[2].clean_text == "other tail words here"
    # untouched docs
    assert got[3].n_removed == 0
    assert got[4].n_removed == 0  # within-doc repetition is not cross-doc
    # token conservation
    for r in got.values():
        assert r.n_tokens - r.n_removed == len(
            r.clean_text.split()
        ) if r.clean_text else r.n_tokens == r.n_removed


def _aligned_bitext_sides(spark, amp=2.0):
    """Even labels = source language, odd = target, with labels 2m and
    2m+1 sharing a cluster center (aligned multilingual space — true
    matches live in the same region). Raw isotropic test embeddings
    have NO neighborhood structure for any index to exploit, so recall
    gates run on this aligned-cluster derivation."""
    e = table(spark, SF, "embeddings")
    clustered = e.select(
        "vec_id", "label",
        sim.cluster_shift_expr(
            "embedding", "(label div 2)", amp=amp
        ).alias("embedding"),
    )
    src = clustered.filter(F.col("label") % 2 == 0).select(
        "vec_id", "embedding"
    )
    dst = clustered.filter(F.col("label") % 2 == 1).select(
        "vec_id", "embedding"
    )
    return src, dst


def test_margin_bitext_ivf_recall_vs_exact(spark):
    """IVF candidate pruning must keep ≥0.9 of the exact kernel's best
    pairs (Artetxe & Schwenk mine with a FAISS IVF index in front of
    the same margin — the approximation is WHICH candidates are
    scored, not how), probing only 3 of 8 cells."""
    src, dst = _aligned_bitext_sides(spark)
    exact = {r.src_id: r for r in
             sim.margin_bitext_mine(src, dst, k=4, num_blocks=2).collect()}
    approx = {r.src_id: r for r in
              sim.margin_bitext_mine_ivf(
                  src, dst, k=4, num_cells=8, nprobe=3).collect()}
    assert exact, "empty exact baseline"
    hit = sum(
        1 for sid, r in exact.items()
        if sid in approx and approx[sid].dst_id == r.dst_id
    )
    recall = hit / len(exact)
    assert recall >= 0.9, f"best-pair recall {recall:.3f}"
    # where the best pair matches, cosine is exact and the margin is
    # within the approximation of the avgTopK normalizer
    for sid, r in exact.items():
        a = approx.get(sid)
        if a is not None and a.dst_id == r.dst_id:
            assert abs(a.cosine - r.cosine) < 1e-9
            assert abs(a.margin - r.margin) < 0.1


def test_margin_bitext_ivf_planted_pairs(spark):
    """Planted true translations (a perturbed copy of every 5th source
    vector injected into the target side) must be mined as best+mutual
    pairs — the deployment-meaningful recall: real translation pairs
    are CLOSE, and closeness survives cell pruning."""
    src, dst_nat = _aligned_bitext_sides(spark)
    planted = src.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, j) -> x + 0.05 * "
            "cast(xxhash64('jit', vec_id, j) as double) "
            "/ 9.223372036854775808E18)"
        ).alias("embedding"),
    )
    dst = dst_nat.unionByName(planted)
    n_planted = planted.count()
    out = {r.src_id: r for r in
           sim.margin_bitext_mine_ivf(
               src, dst, k=4, num_cells=16, nprobe=4).collect()}
    hits = sum(
        1 for sid, r in out.items()
        if sid % 5 == 0 and r.dst_id == sid + 1000000000 and r.mutual
    )
    assert hits / n_planted >= 0.9, f"planted recall {hits}/{n_planted}"


def test_margin_bitext_ivf_deterministic(spark):
    src, dst = _aligned_bitext_sides(spark)
    a = sorted(map(tuple, sim.margin_bitext_mine_ivf(
        src, dst, k=4, num_cells=8, nprobe=3).collect()))
    b = sorted(map(tuple, sim.margin_bitext_mine_ivf(
        src, dst, k=4, num_cells=8, nprobe=3).collect()))
    assert a == b


def test_knn_ivf_agreement(spark):
    """knn_classify(method='ivf') must agree with the exact kernel on
    label-clustered data (the label-propagation regime): ≥0.9 same
    predictions, and every query labeled."""
    e = table(spark, SF, "embeddings")
    clustered = e.select(
        "vec_id", "label",
        sim.cluster_shift_expr("embedding", "label", amp=2.0).alias(
            "embedding"),
    )
    q = clustered.filter(F.col("vec_id") % 10 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding")
    train = clustered.filter(F.col("vec_id") % 10 != 7)
    exact = {r.query_id: r.pred_label for r in
             sim.knn_classify(train, q, k=10).collect()}
    ivf = {r.query_id: r.pred_label for r in sim.knn_classify(
        train, q, k=10, method="ivf", num_cells=8, nprobe=3).collect()}
    assert len(ivf) == len(exact)
    agree = sum(1 for k_ in exact if ivf.get(k_) == exact[k_]) / len(exact)
    assert agree >= 0.9, f"agreement {agree:.3f}"


def test_doc_stats_rounds_six_decimal_ties_like_the_oracle(spark):
    """doc_stats rounds to 6 decimals as its DuckDB oracle does: half away
    from zero on the double times 1e6. Doc 1 scores 1371/3200 = 0.4284375
    (8 tokens, 640 chars, 464 letters, 1 punctuation mark); its double is
    0.42843749999999997, which Spark's round() took to 0.428437 and DuckDB
    to 0.428438. Doc 2 scores 577/640 = 0.9015625 (95 tokens, 512 chars,
    418 letters); its double times 1e6 is 901562.4999999999, so both give
    0.901562, not the exact half-up 0.901563."""
    import duckdb
    import pandas as pd

    from hadoop_source_spark import workload
    from hadoop_source_spark.llmops import textstats as ts

    docs = [
        (1, " ".join(["a" * 58] * 8) + "." + "0" * 168),
        (2, " ".join(["abcd"] * 94 + ["a" * 42])),
        (3, "The cat sat on the mat, twice."),
        (4, ""),
    ]
    got = {
        r.doc_id: r.asDict()
        for r in ts.doc_stats(spark.createDataFrame(docs, "doc_id long, text string")).collect()
    }
    assert [got[i]["quality"] for i in (1, 2, 4)] == [0.428438, 0.901562, 0.1]

    documents = pd.DataFrame(docs, columns=["doc_id", "text"])  # noqa: F841 (scanned by name)
    with duckdb.connect() as con:
        oracle = {r[0]: r for r in con.execute(workload._DOC_STATS_ORACLE).fetchall()}
    cols = ["doc_id", "n_chars", "n_tokens", "n_tokens_bpe",
            "avg_token_len", "alpha_ratio", "punct_ratio", "quality"]
    for doc_id, row in got.items():
        assert tuple(row[c] for c in cols) == oracle[doc_id], doc_id
