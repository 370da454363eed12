"""Behavioral tests for the training-data operators: the sketch-based
methods (MinHash, SimHash, LSH) have no SQL oracle, so we pin their
quality against the exact methods on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    # Unpersist on teardown: a cached plan over documents.parquet would
    # otherwise be substituted (as an unpruned InMemoryRelation) into
    # later plan-audit reads of the same file, breaking their
    # pushdown/pruning asserts (see test_plan_audit.py:56).
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_exact_dedup_hash_and_text_keys_agree(docs):
    from dfsql_spark.operators.dedup import exact_dedup

    by_hash = exact_dedup(docs, hash_key=True)
    by_text = exact_dedup(docs, hash_key=False)
    assert by_hash.count() == by_text.count()
    assert sorted(r.survivor_id for r in by_hash.collect()) == sorted(
        r.survivor_id for r in by_text.collect()
    )


def test_ngram_jaccard_dense_and_prefix_paths_agree(docs):
    """The two physical strategies are bit-identical; the compute gate
    (dense_max_ops) must be able to force the prefix path even when the
    bitmap fits in memory (the 50k-doc sf1 regime: 125 MB bitmap but
    3e12 byte-ops)."""
    from dfsql_spark.operators.dedup import ngram_jaccard_pairs

    dense = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, threshold=0.6, strategy="dense").collect()
    }
    # dense_max_ops=0 routes auto to prefix regardless of memory fit
    prefix = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.6, dense_max_ops=0
        ).collect()
    }
    assert dense == prefix
    assert dense


def test_ngram_strategy_out_is_per_call(docs):
    """Round-8 advice: strategy attribution must be capturable per
    call via ``strategy_out`` — two calls resolving to different
    strategies each keep their own record even though the module-level
    convenience mirror only holds the latest."""
    from dfsql_spark.operators.dedup import (
        LAST_NGRAM_STRATEGY,
        ngram_jaccard_pairs,
    )

    first: dict = {}
    second: dict = {}
    ngram_jaccard_pairs(docs, threshold=0.6, strategy_out=first)
    ngram_jaccard_pairs(
        docs, threshold=0.6, dense_max_ops=0, strategy_out=second
    )
    assert first["requested"] == second["requested"] == "auto"
    assert first["strategy"] == "dense"      # tiny vocab → dense gate
    assert second["strategy"] == "prefix"    # ops gate forces prefix
    assert first["strategy"] != second["strategy"]  # no shared clobber
    # the module mirror reflects the LAST call only (documented)
    assert LAST_NGRAM_STRATEGY["strategy"] == "prefix"


def test_minhash_recall_vs_exact_jaccard(docs):
    """MinHash-LSH candidates must recover (almost) all exact-Jaccard
    pairs at a threshold above the banding threshold (~0.5)."""
    from dfsql_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()
    }
    assert exact, "test data should contain planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} too low ({len(exact)} truth pairs)"


def test_banded_lsh_candidate_semantics_on_handcrafted_sigs(spark):
    """Pin the banded core's candidate rule on handcrafted signatures:
    a pair agreeing on at least one FULL band slice (r consecutive
    components) is a candidate, a pair with no fully-agreeing band is
    not — even if it matches many components scattered across bands.
    Guards the band-hash expression (equal slices MUST hash equal;
    slice-level disagreement MUST separate) independent of corpus
    statistics."""
    from dfsql_spark.operators.dedup import _banded_lsh_pairs

    num_perm, bands = 64, 16
    r = num_perm // bands
    base = list(range(num_perm))
    # b agrees with a on exactly band 0 (components 0..3)
    sig_b = base[:r] + [x + 1000 for x in base[r:]]
    # c matches a on 3 of 4 components in EVERY band — never a full
    # slice — plus scattered equality everywhere: must NOT pair
    sig_c = [x if (i % r) != 0 else x + 2000 for i, x in enumerate(base)]
    sigs = spark.createDataFrame(
        [(1, base), (2, sig_b), (3, sig_c)], "id: long, sig: array<long>"
    )
    got = {
        (p.id_a, p.id_b): p.est_jaccard
        for p in _banded_lsh_pairs(sigs, num_perm, bands, None).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == pytest.approx(r / num_perm)
    # identical signatures agree on every band and estimate 1.0
    sigs2 = spark.createDataFrame(
        [(1, base), (2, base)], "id: long, sig: array<long>"
    )
    got2 = {
        (p.id_a, p.id_b): p.est_jaccard
        for p in _banded_lsh_pairs(sigs2, num_perm, bands, None).collect()
    }
    assert got2 == {(1, 2): pytest.approx(1.0)}


def test_minhash_dedup_removes_planted_dups(docs):
    from dfsql_spark.operators.dedup import minhash_dedup

    survivors = minhash_dedup(docs, verify_threshold=0.5)
    assert survivors.count() < docs.count()


def test_minhash_dedup_resolves_chains_via_components(spark):
    """Default resolution is connected components: a bridge doc with
    the LARGEST id links two mutually-dissimilar docs into one cluster,
    so components keep only the cluster min — greedy (drop the larger
    id of each pair) would wrongly keep both endpoints."""
    import pandas as pd

    from dfsql_spark.operators.dedup import minhash_dedup

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    t3 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 3, 5, 7],
                # doc 5 = t1 + t3 → J(1,5) ≈ J(3,5) ≈ 0.5, J(1,3) = 0
                "text": [t1, t3, t1 + " " + t3, "completely unrelated words here"],
            }
        )
    )
    # bands=32 (r=2): band-collision prob at J=0.5 is ~1-(0.75)^32 ≈ 1;
    # fixed seed → fully deterministic
    kw = dict(num_perm=64, bands=32, verify_threshold=0.3)
    by_components = sorted(
        r.doc_id for r in minhash_dedup(docs, **kw).collect()
    )
    assert by_components == [1, 7]
    by_greedy = sorted(
        r.doc_id for r in minhash_dedup(docs, resolve="greedy", **kw).collect()
    )
    assert by_greedy == [1, 3, 7]  # the documented greedy footgun

    with pytest.raises(ValueError):
        minhash_dedup(docs, resolve="nope")


def test_simhash_pairs_overlap_jaccard(docs):
    from dfsql_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs

    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    sim = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    if exact:
        recall = len(exact & sim) / len(exact)
        assert recall >= 0.5, f"simhash recall {recall}"


def test_lsh_topk_recall_vs_bruteforce(emb):
    from dfsql_spark.operators.similarity import cosine_topk, lsh_topk

    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = cosine_topk(emb, qs, k=5).collect()
    # random-ish corpus: true neighbors sit near cos 0.3 (~72°), so use
    # short codes (4 planes) + 8 tables; sim(θ)=1-θ/π → p_table≈0.13,
    # union recall ≈ 1-(1-p)^8 ≈ 0.67
    approx = lsh_topk(emb, qs, k=5, num_planes=4, num_tables=8).collect()
    bs = {(r.query_id, r.neighbor_id) for r in brute}
    as_ = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(bs & as_) / len(bs)
    # rank-1 self matches must always survive LSH (identical vectors share buckets)
    self_hits = {(r.query_id, r.neighbor_id) for r in approx if r.rank == 1}
    assert all(q == n for q, n in self_hits)
    assert recall >= 0.4, f"lsh recall {recall} (tune num_tables/planes)"


def test_lsh_topk_candidates_are_subset_quality(emb):
    """Approx scores can't exceed brute-force scores for the same query."""
    from dfsql_spark.operators.similarity import cosine_topk, lsh_topk

    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute_top = cosine_topk(emb, qs, k=1).collect()[0]
    approx_top = lsh_topk(emb, qs, k=1).collect()[0]
    assert approx_top.cos_sim <= brute_top.cos_sim + 1e-12


def test_unit_vector_normalization(emb):
    from dfsql_spark.operators.similarity import dot, with_unit_vector

    u = with_unit_vector(emb.limit(10))
    norms = u.select(dot("unit", "unit").alias("n")).collect()
    assert all(abs(r.n - 1.0) < 1e-9 for r in norms)


def test_multimodal_plumbing(docs):
    from dfsql_spark.operators.multimodal import (
        IMAGE_FEATURES_SCHEMA,
        attach_fake_media,
        decode_and_featurize,
        sample_frames,
    )

    media = attach_fake_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    decoded = decode_and_featurize(media)
    assert decoded.schema == IMAGE_FEATURES_SCHEMA
    rows = decoded.limit(5).collect()
    assert all(64 <= r.width < 256 and len(r.features) == 8 for r in rows)
    # deterministic across runs
    a = decoded.filter("doc_id = 0").collect()[0]
    b = decode_and_featurize(attach_fake_media(docs)).filter("doc_id = 0").collect()[0]
    assert a == b
    frames = sample_frames(media)
    assert frames.columns == ["doc_id", "frame_idx", "ts_ms", "frame_bytes"]
    per_doc = frames.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert per_doc <= 8


def test_multimodal_strict_raises(docs):
    from dfsql_spark.operators.multimodal import (
        attach_fake_media,
        decode_and_featurize,
    )

    # strict refuses to fake: the default decoder is the stub, so this
    # raises whether or not a real decoder library is installed
    media = attach_fake_media(docs).limit(2)
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        decode_and_featurize(media, strict=True).collect()
    with pytest.raises(ValueError, match="decoder"):
        decode_and_featurize(media, decoder="ffmpeg")


def test_multimodal_real_decoder_swap_in(spark):
    """Skip-gated proof of the stub/real boundary: wherever PIL exists,
    a REAL 2x2 PNG round-trips through decode_and_featurize(decoder=
    'pil') with true dimensions and an 8-dim feature vector — same
    schema, same Arrow batching, same plan shape as the stub path."""
    from dfsql_spark.operators.multimodal import HAVE_PIL, decode_and_featurize

    if not HAVE_PIL:
        pytest.skip("PIL not installed in this environment")
    import io

    import pandas as pd
    import PIL.Image

    img = PIL.Image.new("RGB", (2, 2))
    img.putpixel((0, 0), (255, 255, 255))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    payload = buf.getvalue()
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "media_type": ["image"],
                "payload": [payload],
                "mime": ["image/png"],
                "n_bytes": [len(payload)],
            }
        )
    )
    row = decode_and_featurize(media, decoder="pil").collect()[0]
    assert (row.width, row.height) == (2, 2)
    assert len(row.features) == 8
    assert all(0.0 <= v <= 1.0 for v in row.features)
    assert any(v > 0.0 for v in row.features)  # the white pixel shows up


def test_multimodal_pil_decoder_requires_pil(docs):
    from dfsql_spark.operators.multimodal import (
        HAVE_PIL,
        attach_fake_media,
        decode_and_featurize,
    )

    if HAVE_PIL:
        pytest.skip("real decoder present")
    media = attach_fake_media(docs).limit(1)
    with pytest.raises(Exception):  # NotImplementedError inside the worker
        decode_and_featurize(media, decoder="pil").collect()


def test_fingerprint_order_sensitive(spark):
    """Permuted documents must fingerprint differently (unlike
    bag-of-shingle sketches)."""
    import pandas as pd

    from dfsql_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["alpha beta gamma", "gamma beta alpha"]})
    )
    fps = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
    assert fps[1] != fps[2]


def test_ivf_topk_recall_vs_bruteforce(emb):
    from dfsql_spark.operators.similarity import cosine_topk, ivf_topk

    qs = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    exact = cosine_topk(emb, qs, k=5).toPandas()
    approx = ivf_topk(emb, qs, k=5, n_cells=8, n_probe=4).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    # probing half the cells must recover most of the true neighbors
    assert len(e & a) / len(e) >= 0.6
    # rank-1 self-match: each query is its own nearest neighbor
    self_hits = approx[(approx["rank"] == 1)]
    assert (self_hits.query_id == self_hits.neighbor_id).all()


def test_pq_topk_recall_and_selfmatch(emb):
    from dfsql_spark.operators.similarity import cosine_topk, pq_topk

    qs = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    exact = cosine_topk(emb, qs, k=5).toPandas()
    approx = pq_topk(emb, qs, k=5, m=8, n_codes=128, rerank_factor=16).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    assert len(e & a) / len(e) >= 0.6
    # rank-1 self-match survives quantization: the query's own code is
    # its ADC argmax and the exact rerank confirms it
    self_hits = approx[(approx["rank"] == 1)]
    assert (self_hits.query_id == self_hits.neighbor_id).all()
    with pytest.raises(ValueError, match="divisible"):
        pq_topk(emb, qs, k=5, m=7)
    with pytest.raises(ValueError, match="n_codes"):
        pq_topk(emb, qs, k=5, n_codes=1)


def test_token_counts_shapes(docs):
    from dfsql_spark.operators.text import token_counts

    out = token_counts(docs).toPandas()
    assert (out.ws_tokens > 0).all()
    assert (out.bpe_pieces >= out.ws_tokens).all()  # pieces refine tokens
    assert (out.chars_per_piece > 0).all()


def test_asof_join_semantics(spark):
    from dfsql_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")], "k int, ts int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 18, 200.0), (3, 1, 999.0)], "k int, ts int, v double"
    )
    out = {
        r["tag"]: (r["ts_right"], r["v_right"])
        for r in asof_join(left, right, on="k", right_cols=["v"]).collect()
    }
    assert out["a"] == (10, 100.0)       # equal ts matches (allow_equal)
    assert out["b"] == (18, 200.0)       # most recent prior
    assert out["c"] == (None, None)      # no right rows for key 2

    strict = {
        r["tag"]: r["v_right"]
        for r in asof_join(
            left, right, on="k", right_cols=["v"], allow_equal=False
        ).collect()
    }
    assert strict["a"] is None           # equal ts excluded


def test_range_join_inclusive_bounds(spark):
    from dfsql_spark.operators.joins import range_join

    pts = spark.createDataFrame([(0,), (5,), (10,), (11,)], "p int")
    iv = spark.createDataFrame([(0, 10)], "s int, e int")
    got = sorted(
        r["p"] for r in range_join(pts, iv, "p", "s", "e", bin_seconds=4).collect()
    )
    assert got == [0, 5, 10]


def test_salted_agg_equals_plain_groupby(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from dfsql_spark.operators.skew import salted_groupby_agg

    # skewed: one hot key with 10x the rows
    pdf = pd.DataFrame(
        {"k": ["hot"] * 1000 + ["a"] * 100 + ["b"] * 10,
         "v": list(range(1110))}
    )
    df = spark.createDataFrame(pdf)
    got = (
        salted_groupby_agg(
            df, "k",
            {"s": ("v", "sum"), "n": ("*", "count"),
             "m": ("v", "avg"), "hi": ("v", "max")},
            num_salts=8,
        )
        .toPandas().set_index("k").sort_index()
    )
    want = (
        df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"),
             F.avg("v").alias("m"), F.max("v").alias("hi"))
        .toPandas().set_index("k").sort_index()
    )
    assert (got["s"] == want["s"]).all()
    assert (got["n"] == want["n"]).all()
    assert (abs(got["m"] - want["m"]) < 1e-9).all()
    assert (got["hi"] == want["hi"]).all()


def test_salted_agg_rejects_non_decomposable(spark):
    import pandas as pd
    from dfsql_spark.operators.skew import salted_groupby_agg

    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "v": [1]}))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        salted_groupby_agg(df, "k", {"x": ("v", "median")})


def test_connected_components_chain_semantics(spark):
    from dfsql_spark.operators.dedup import connected_components, dedup_by_components
    import pandas as pd

    # chain 1~2~3, pair 10~11, singleton 20 untouched (not in pairs)
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    )
    comp = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 20], "text": ["x"] * 6})
    )
    survivors = sorted(
        r["doc_id"] for r in dedup_by_components(docs, pairs).collect()
    )
    assert survivors == [1, 10, 20]  # one per cluster + untouched row


def test_pii_scrub_idempotent_and_residue_free(spark):
    """The scrubber's two load-bearing properties, checked on texts
    with adjacent/nested/boundary PII: (1) residue-free — rescanning
    the scrubbed output with every pattern finds ZERO matches (a
    replacement must never expose or synthesize a new match);
    (2) idempotent — scrubbing twice equals scrubbing once."""
    import pandas as pd
    import pyspark.sql.functions as F

    from dfsql_spark.operators.text import PII_PATTERNS, pii_scrub

    texts = [
        "mail a@b.co then c.d+x@e-f.org back to back a@b.co c@d.io",
        "ssn 123-45-6789 phone +1 (555) 123-4567 ip 10.0.0.1 end",
        "a@b.co123-45-6789",          # adjacent, no separator
        "edge@case.com",              # pattern spans the whole text
        "email (parens@dom.net), trailing dot a@b.co.",
        "4111 1111 1111 1111 card next to 192.168.0.255",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    once = pii_scrub(df)
    # residue-free: no pattern matches anything in the scrubbed text
    residue_cols = [
        F.sum(F.regexp_count(F.col("clean_text"), F.lit(p))).alias(k)
        for k, p in PII_PATTERNS.items()
    ]
    (res,) = once.agg(*residue_cols).collect()
    assert all((v or 0) == 0 for v in res.asDict().values()), res
    # idempotent: scrub(scrub(x)) == scrub(x)
    again = pii_scrub(
        once.select("doc_id", F.col("clean_text").alias("text"))
    )
    first = {r.doc_id: r.clean_text for r in once.collect()}
    second = {r.doc_id: r.clean_text for r in again.collect()}
    assert first == second


def test_chunk_documents_fuzz_vs_reference(spark):
    """Chunking against an independent plain-Python chunker on random
    (text length, max_chars, overlap) combinations: the off-by-one
    space — exact-multiple lengths, len == max_chars, len < stride,
    1-char texts — plus the coverage property (concatenating chunk
    cores reconstructs the text) on every example."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import chunk_documents

    params = st.tuples(
        st.integers(min_value=1, max_value=30),   # text length
        st.integers(min_value=2, max_value=12),   # max_chars
        st.integers(min_value=0, max_value=6),    # overlap (clamped below)
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(params, min_size=1, max_size=4))
    def inner(cases):
        for n_len, mc, ov in cases:
            ov = min(ov, mc - 1)
            stride = mc - ov
            text = "".join(chr(ord("a") + i % 26) for i in range(n_len))
            df = spark.createDataFrame(
                pd.DataFrame({"doc_id": [0], "text": [text]})
            )
            got = sorted(
                (r.chunk_idx, r.chunk_start, r.chunk)
                for r in chunk_documents(
                    df, max_chars=mc, overlap=ov
                ).collect()
            )
            # independent reference: same contract re-derived
            import math

            n_chunks = 1 + math.ceil(max(n_len - mc, 0) / stride)
            want = []
            for i in range(n_chunks):
                s = i * stride           # 0-based
                want.append((i, s + 1, text[s:s + mc]))
            assert got == want, (n_len, mc, ov, got, want)
            # coverage: stitching chunk heads + the last tail equals text
            rebuilt = "".join(c[:stride] for _, _, c in want[:-1]) + want[-1][2]
            assert rebuilt == text, (n_len, mc, ov)

    inner()


def test_operators_empty_corpus_safe(spark):
    """Empty-input safety net: at 100 TB empty shards and all-filtered
    partitions are routine, so every major operator must handle a
    0-row corpus without crashing and return a sane shape — 0 rows for
    per-doc/per-pair ops, a defined degenerate row for the one-row
    report cards.  (Round-13 sweep: every operator already passed;
    this pins it.)"""
    import pyspark.sql.functions as F

    from .conftest import SF_DIR
    from dfsql_spark.operators import checks as C
    from dfsql_spark.operators import dedup as D
    from dfsql_spark.operators import similarity as S
    from dfsql_spark.operators import text as T
    from dfsql_spark.operators import versioning as V

    full = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    empty = full.filter(F.lit(False))
    emb_full = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb_empty = emb_full.filter(F.lit(False))
    empty_pairs = empty.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )

    zero_rows = {
        "text_stats": T.text_stats(empty),
        "vocab_topk": T.vocab_topk(empty),
        "grouped_split": T.grouped_split(empty, "source"),
        "pack_sequences": T.pack_sequences(empty),
        "cap_per_key": T.cap_per_key(empty, "source", cap=5),
        "vocab_coverage": T.vocab_coverage(empty),
        "ngram_jaccard_pairs": D.ngram_jaccard_pairs(empty, k=5, threshold=0.6),
        "minhash_lsh_pairs": D.minhash_lsh_pairs(empty),
        "connected_components": D.connected_components(empty_pairs),
        "group_keep_report": C.group_keep_report(
            empty.withColumn("keep", F.lit(True)), "keep", "lang"
        ),
        "cosine_topk": S.cosine_topk(
            emb_empty,
            emb_full.limit(2).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
        ),
    }
    for name, df in zero_rows.items():
        assert df.count() == 0, name

    assert T.train_bpe(empty, num_merges=3) == []
    (card,) = D.dedup_report(empty, empty_pairs).collect()
    assert card.n_docs == 0 and card.n_pairs == 0 and card.n_removed == 0
    # drift against an empty side is the one DELIBERATE raise (round
    # 14, advisor r13): PSI against nothing is undefined, and a NULL
    # psi reads as "no drift" to a monitor — a clear ValueError at
    # entry IS the safe behavior here, never a crash mid-plan
    for a, b in ((full, empty), (empty, full)):
        with pytest.raises(ValueError, match="empty"):
            V.distribution_drift(a, b, numeric_cols=["n_chars"])


def test_connected_components_fuzz_vs_union_find(spark):
    """Components against an INDEPENDENT plain-Python union-find on
    random graphs (chains, stars, cliques, isolated pairs, self-loops
    all arise from uniform edge sampling over a small node universe).
    The Spark side is min-label propagation — a different algorithm
    family — so agreement is meaningful; labels are canonicalized to
    min-id on both sides (the operator's documented contract)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.dedup import connected_components

    edges = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=1,
        max_size=25,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges)
    def inner(pairs):
        # independent reference: union-find with path compression
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in pairs:
            union(a, b)
        # canonicalize to min id per component (the operator contract)
        groups: dict = {}
        for n in parent:
            groups.setdefault(find(n), []).append(n)
        want = {n: min(ms) for ms in groups.values() for n in ms}

        df = spark.createDataFrame(pairs, schema="id_a bigint, id_b bigint")
        got = {
            r.id: r.component
            for r in connected_components(df, max_iter=60).collect()
        }
        assert got == want, (sorted(pairs), got, want)

    inner()


def test_connected_components_raises_on_non_convergence(spark):
    """A component whose diameter exceeds max_iter must RAISE, never
    return partially-propagated labels (silent under-dedup); the same
    graph resolves fine with a sufficient max_iter."""
    from dfsql_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], schema="id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3).collect()
    comp = {
        r.id: r.component
        for r in connected_components(chain, max_iter=30).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == 13


def test_connected_components_max_iter_boundaries(spark):
    """Advisor r13 edges: max_iter bounds PROPAGATION rounds, so a
    graph whose diameter is EXACTLY max_iter converges (the quiet
    detection round runs on top, not out of the budget); max_iter < 1
    is a ValueError at entry, not an unbound-variable NameError in
    the non-convergence raise."""
    from dfsql_spark.operators.dedup import connected_components

    # diameter-3 chain 0-1-2-3: label 0 reaches node 3 on round 3;
    # round 4 (the internal detection round) observes zero changes
    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], schema="id_a bigint, id_b bigint"
    )
    comp = {
        r.id: r.component
        for r in connected_components(chain, max_iter=3).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0}
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(chain, max_iter=0)
    # max_iter=1 on a diameter-1 graph: one propagation + one quiet round
    pair = spark.createDataFrame([(7, 9)], schema="id_a bigint, id_b bigint")
    comp = {
        r.id: r.component
        for r in connected_components(pair, max_iter=1).collect()
    }
    assert comp == {7: 7, 9: 7}


def test_deterministic_split_content_addressed(spark):
    """Same text → same split regardless of id (the leakage defense);
    bad weights rejected; all rows assigned a known split name."""
    import pandas as pd

    from dfsql_spark.operators.text import deterministic_split

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["same words here", "same words here", "other"]}
        )
    )
    rows = {r.doc_id: r.split for r in deterministic_split(df).collect()}
    assert rows[1] == rows[2]  # identical content, different ids
    assert set(rows.values()) <= {"train", "val", "test"}
    with pytest.raises(ValueError, match="sum to 1"):
        deterministic_split(df, weights={"train": 0.5, "val": 0.1})


def test_deterministic_split_proportions(docs):
    """At corpus size the realized proportions track the weights
    (binomial tolerance)."""
    from dfsql_spark.operators.text import deterministic_split

    counts = {
        r.split: r.n
        for r in deterministic_split(docs).groupBy("split").count()
        .withColumnRenamed("count", "n").collect()
    }
    total = sum(counts.values())
    assert 0.80 <= counts.get("train", 0) / total <= 0.97


def test_grouped_split_group_cohesion_and_edges(spark):
    """Every row of a group shares one split (the leakage contract);
    NULL groups get NULL split (flag, don't guess); bad weights
    rejected; split set bounded by the weight names."""
    import pandas as pd

    from dfsql_spark.operators.text import grouped_split

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(8),
                "domain": ["a.com", "a.com", "a.com", "b.org", "b.org",
                           "c.net", None, None],
            }
        )
    )
    out = {r.doc_id: r for r in grouped_split(df, "domain").collect()}
    by_group: dict = {}
    for r in out.values():
        if r.domain is not None:
            by_group.setdefault(r.domain, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values()), by_group
    assert out[6].split is None and out[7].split is None
    assert {s for g in by_group.values() for s in g} <= {
        "train", "val", "test"
    }
    with pytest.raises(ValueError, match="sum to 1"):
        grouped_split(df, "domain", weights={"train": 0.7})


def test_grouped_split_matches_duckdb(docs, duck):
    """Exact DuckDB mirror of the assignment over documents grouped by
    source — the shared _salted_bucket md5 contract, salt 'gsplit',
    default 90/5/5 edges at buckets=10000."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import grouped_split

    mirror = """
        SELECT doc_id, source,
               CASE WHEN source IS NULL THEN NULL
                    WHEN CAST('0x' || substr(md5('gsplit:' || source), 1, 8)
                         AS BIGINT) % 10000 < 9000 THEN 'train'
                    WHEN CAST('0x' || substr(md5('gsplit:' || source), 1, 8)
                         AS BIGINT) % 10000 < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """
    assert_matches_oracle(
        grouped_split(docs, "source"), duck.sql(mirror).df(), "grouped_split"
    )


def test_grouped_split_plan_is_map_only(docs):
    from dfsql_spark.operators.text import grouped_split

    plan = (
        grouped_split(docs, "source")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_vocab_topk_deterministic_tiebreak(spark):
    import pandas as pd

    from dfsql_spark.operators.text import vocab_topk

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["b a b a c C"]})
    )
    rows = [(r.token, r.n) for r in vocab_topk(df, k=10).collect()]
    assert rows == [("a", 2), ("b", 2), ("c", 2)]  # count desc, token asc
    rows_nonorm = [
        (r.token, r.n) for r in vocab_topk(df, k=10, normalize=False).collect()
    ]
    assert ("C", 1) in rows_nonorm


def test_pii_scrub_redacts_and_counts(spark):
    import pandas as pd

    from dfsql_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": ["mail a.b@x.io or call 555-123-4567; ssn 123-45-6789."],
            }
        )
    )
    r = pii_scrub(df).collect()[0]
    assert "[REDACTED_EMAIL]" in r.clean_text
    assert "[REDACTED_PHONE]" in r.clean_text
    assert "[REDACTED_SSN]" in r.clean_text
    assert "a.b@x.io" not in r.clean_text
    assert (r.n_email, r.n_phone, r.n_ssn) == (1, 1, 1)


def test_pack_sequences_greedy_semantics(spark):
    """Overflow starts a new sequence; an oversized doc is clamped to
    one full sequence; shards pack independently."""
    import pandas as pd

    from dfsql_spark.operators.text import pack_sequences

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 10],
            "source": ["a", "a", "a", "a", "b"],
            "text": [
                "w " * 300,          # 300 tokens -> seq 0 (cum 300)
                "w " * 300,          # overflow -> seq 1 (cum 300)
                "w " * 200,          # fits -> seq 1 (cum 500)
                "w " * 999,          # clamped to 512, overflow -> seq 2
                "w " * 5,            # shard b restarts at seq 0
            ],
        }
    )
    out = {
        (r.doc_id): (r.source, r.seq_id, r.doc_tokens)
        for r in pack_sequences(spark.createDataFrame(rows), budget=512).collect()
    }
    assert out[1] == ("a", 0, 300)
    assert out[2] == ("a", 1, 300)
    assert out[3] == ("a", 1, 200)
    assert out[4] == ("a", 2, 512)
    assert out[10] == ("b", 0, 5)


def test_pack_sequences_respects_budget(docs):
    """No packed sequence exceeds the budget."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.text import pack_sequences

    packed = pack_sequences(docs, budget=256)
    over = (
        packed.groupBy("source", "seq_id")
        .agg(F.sum("doc_tokens").alias("seq_tokens"))
        .filter(F.col("seq_tokens") > 256)
        .count()
    )
    assert over == 0


def test_stratified_sample_deterministic_and_rates(docs):
    """Same input → identical sample; per-stratum realized rates track
    the requested rates; rate validation."""
    from dfsql_spark.operators.text import stratified_sample

    rates = {"src0": 1.0, "src1": 0.5}
    s1 = {r.doc_id for r in stratified_sample(docs, rates, default_rate=0.2).collect()}
    s2 = {r.doc_id for r in stratified_sample(docs, rates, default_rate=0.2).collect()}
    assert s1 == s2  # deterministic
    from pyspark.sql import functions as F

    per = {
        r.source: r.frac
        for r in stratified_sample(docs, rates, default_rate=0.2)
        .groupBy("source").count()
        .join(docs.groupBy("source").count().withColumnRenamed("count", "total"), "source")
        .select("source", (F.col("count") / F.col("total")).alias("frac"))
        .collect()
    }
    assert per["src0"] == 1.0
    assert 0.2 <= per["src1"] <= 0.8  # binomial tolerance at ~25 docs/stratum
    with pytest.raises(ValueError, match="rate"):
        stratified_sample(docs, {"src0": 1.5})


def test_stratified_sample_independent_of_split(docs):
    """The sampling hash is salted, so keep decisions don't correlate
    with t06's split assignment (both are md5-of-text derived)."""
    from dfsql_spark.operators.text import deterministic_split, stratified_sample

    sampled = stratified_sample(docs, rates={}, default_rate=0.5).select("doc_id")
    split = deterministic_split(docs)
    got = split.join(sampled, "doc_id").groupBy("split").count().collect()
    kept = {r.split: r["count"] for r in got}
    # train is ~90% of docs; if sampling reused the split hash, val/test
    # (the top buckets) would be entirely dropped or entirely kept
    assert kept.get("train", 0) > 0 and (kept.get("val", 0) + kept.get("test", 0)) > 0


def test_rebalance_mix_limiting_stratum_and_shares(docs):
    """The limiting stratum is kept fully; every other listed stratum
    is down-sampled toward its target share; unlisted strata are
    dropped; derived rates never exceed 1 (no up-sampling)."""
    from dfsql_spark.operators.text import rebalance_mix

    # uniform 25 docs/source → src2 (smallest share... all equal) —
    # with equal counts the LARGEST target share is limiting
    out = rebalance_mix(docs, target={"src0": 0.5, "src1": 0.3, "src2": 0.2})
    per = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    totals = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    assert set(per) <= {"src0", "src1", "src2"}  # unlisted strata dropped
    # src0 has the largest target share → limiting → kept fully
    assert per["src0"] == totals["src0"]
    # the others are strict down-samples with binomial wiggle around
    # p_s*T/n_s (0.6 and 0.4 of 25 docs here)
    assert 0 < per.get("src1", 0) < totals["src1"]
    assert 0 < per.get("src2", 0) < totals["src2"]
    # deterministic: same input → identical sample
    a = {r.doc_id for r in out.collect()}
    b = {
        r.doc_id
        for r in rebalance_mix(
            docs, target={"src0": 0.5, "src1": 0.3, "src2": 0.2}
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="target"):
        rebalance_mix(docs, target={})
    with pytest.raises(ValueError, match="share"):
        rebalance_mix(docs, target={"src0": 0.0})


def test_shared_substring_spans_hand_planted(spark):
    """Exact-substring spans: a planted 8-token shared run is found
    once, maximal, at the right token offsets; unrelated docs emit
    nothing; runs shorter than min_tokens emit nothing."""
    import pandas as pd

    from dfsql_spark.operators.dedup import shared_substring_spans

    shared = "one two three four five six seven eight"  # 8 tokens
    rows = [
        (0, f"prefix {shared} tail0 tail1"),        # run at tokens 1..8
        (1, f"a b c {shared}"),                     # run at tokens 3..10
        (2, "totally different words here only"),
        (3, "one two three unrelated continuation"),  # 3-token overlap < 5
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = shared_substring_spans(df, min_tokens=5).collect()
    spans = {(r.id_a, r.id_b): (r.start_a, r.start_b, r.n_tokens) for r in out}
    assert spans == {(0, 1): (1, 3, 8)}
    with pytest.raises(ValueError, match="min_tokens"):
        shared_substring_spans(df, min_tokens=1)


def test_shared_substring_spans_matches_duckdb(docs, duck):
    """The full gram-diagonal islands construction equals the same
    construction in DuckDB on the corpus (the near-dup planted docs
    share long verbatim runs)."""
    from dfsql_spark.operators.dedup import shared_substring_spans

    k = 8
    got = sorted(
        (r.id_a, r.id_b, r.start_a, r.start_b, r.n_tokens)
        for r in shared_substring_spans(docs, min_tokens=k).collect()
    )
    want = sorted(
        tuple(r)
        for r in duck.sql(
            f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x != '') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, u.i - 1 AS pos,
                   array_to_string(t[u.i : u.i + {k - 1}], ' ') AS g
            FROM toks, unnest(range(1, len(t) - {k} + 2)) u(i)
            WHERE len(t) >= {k}
        ), m AS (
            SELECT a.doc_id ia, b.doc_id ib, a.pos pa, b.pos pb
            FROM grams a JOIN grams b
              ON a.g = b.g AND a.doc_id < b.doc_id
        ), isl AS (
            SELECT *, pa - row_number() OVER (
                PARTITION BY ia, ib, pa - pb ORDER BY pa) AS island
            FROM m
        )
        SELECT ia, ib, MIN(pa) AS start_a, MIN(pb) AS start_b,
               MAX(pa) - MIN(pa) + {k} AS n_tokens
        FROM isl GROUP BY ia, ib, pa - pb, island
        """
        ).fetchall()
    )
    assert got == want
    assert got  # planted near-dups share >= 8-token runs
    # the 8-byte-key scale path returns the identical spans here
    hashed = sorted(
        (r.id_a, r.id_b, r.start_a, r.start_b, r.n_tokens)
        for r in shared_substring_spans(
            docs, min_tokens=k, hash_grams=True
        ).collect()
    )
    assert hashed == got


def test_remove_shared_spans_end_to_end(spark):
    """The Lee et al. action step: spans cut from the higher-id copy
    only; overlapping delete intervals merge; untouched docs come back
    whitespace-normalized but token-identical; a fully-deleted doc
    survives as empty text with its counts."""
    import pandas as pd

    from dfsql_spark.operators.dedup import (
        remove_shared_spans,
        shared_substring_spans,
    )

    shared = "one two three four five six seven eight"  # 8 tokens
    rows = [
        (0, f"prefix {shared} tail0 tail1"),
        (1, f"a b c {shared}"),
        (2, "totally different words here only"),
        (3, shared),  # exact copy of the whole shared run
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    spans = shared_substring_spans(df, min_tokens=5)
    out = {r.doc_id: r for r in remove_shared_spans(df, spans).collect()}
    assert len(out) == 4
    # doc0 is id_a everywhere -> untouched
    assert out[0].text == rows[0][1] and out[0].n_kept == out[0].n_tokens == 11
    # doc1 loses the 8 shared tokens (two spans, 0-1 and 1-3, merged)
    assert out[1].text == "a b c"
    assert (out[1].n_tokens, out[1].n_kept) == (11, 3)
    # doc2 shares nothing -> untouched
    assert out[2].text == rows[2][1]
    # doc3 IS the shared run -> fully deleted, survives as empty
    assert out[3].text == "" and out[3].n_kept == 0 and out[3].n_tokens == 8


def test_substring_dedup_scan_shape(spark):
    """Round-12 scan review pins: (1) the gram self-join feeds BOTH
    sort-merge sides from ONE aliased plan, so AQE's exchange reuse
    executes the scan + Arrow gram UDF + shuffle write once (the
    scale-correct alternative to persisting a corpus-token-sized gram
    table); (2) remove_shared_spans reads the corpus ONCE — the
    posexplode_outer marker row replaced the id-roster rescan.

    Deliberately a FRESH parquet read, not the cached fixture: AQE
    reuses canonically-equal shuffle stages over raw scans (the
    driver/bench/100 TB shape), but table-cache stages get distinct
    output attrs and defeat the match — a cached toy input would pin
    the wrong plan.  Reads the sf0.01 sibling table because Spark's
    cache manager substitutes the module fixture's cached relation
    for any canonically-equal read of the SF_DIR path."""
    import os

    from dfsql_spark.operators.dedup import (
        remove_shared_spans,
        shared_substring_spans,
    )

    smoke_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.isfile(f"{smoke_dir}/documents.parquet"):
        # advisor r12: the sibling-dataset dependency is an
        # environment fact, not an operator property — don't fail the
        # operator for a missing fixture dir
        pytest.skip(f"sibling dataset {smoke_dir} not present")
    docs = spark.read.parquet(f"{smoke_dir}/documents.parquet")
    spans = shared_substring_spans(docs, min_tokens=8, hash_grams=True)
    spans.collect()  # AQE finalizes stage reuse at execution time
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    assert final.count("ArrowEvalPython") == 1, final

    # one corpus scan: with the spans input pre-materialized (no
    # parquet lineage), the only documents.parquet read left feeds the
    # posexplode_outer token stream
    removed = remove_shared_spans(docs, spans.localCheckpoint())
    rplan = removed._jdf.queryExecution().executedPlan().toString()
    assert rplan.count("documents.parquet") == 1, rplan


def test_round9_operators_partitioning_invariant(docs):
    """The determinism contracts of the round-9 operators: survivors /
    counts / merges are functions of the DATA alone, identical under
    different partitionings (content-addressed md5 priority for the
    cap and the temperature mix; exact recount for heavy hitters;
    histogram-only statistics for BPE training)."""
    from dfsql_spark.operators.text import (
        cap_per_key,
        heavy_hitter_ngrams,
        temperature_rebalance,
        train_bpe,
    )

    a, b = docs.repartition(7), docs.repartition(3)
    assert sorted(r.doc_id for r in cap_per_key(a, "source", cap=7).collect()) == sorted(
        r.doc_id for r in cap_per_key(b, "source", cap=7).collect()
    )
    assert sorted(
        r.doc_id for r in temperature_rebalance(a, alpha=0.3).collect()
    ) == sorted(r.doc_id for r in temperature_rebalance(b, alpha=0.3).collect())
    hh = lambda d: sorted(
        (r.ngram, r.n)
        for r in heavy_hitter_ngrams(d, threshold_count=8, n=3).collect()
    )
    assert hh(a) == hh(b)
    assert train_bpe(a, num_merges=20) == train_bpe(b, num_merges=20)


def test_train_bpe_hand_checked_and_reference(spark):
    """train_bpe on a hand-computable corpus: merge order follows
    weighted pair counts with deterministic tie-breaks, hapax pairs
    never merge; against an independent Counter-based reference
    trainer on the same histogram."""
    from collections import Counter

    import pandas as pd

    from dfsql_spark.operators.text import train_bpe

    rows = ["ab ab ab cd", "ab abab", "low low lower"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(rows)), "text": rows})
    )
    merges = train_bpe(df, num_merges=10)

    # independent reference: same histogram, Counter-based loop
    hist = Counter()
    for t in rows:
        for w in t.split():
            hist[w] += 1
    vocab = {tuple(w): c for w, c in hist.items()}
    want = []
    for _ in range(10):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        best = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        nv = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] += c
        vocab = dict(nv)
        want.append((a, b))
    assert merges == want
    # 'ab' occurs 4 as a word + inside 'abab' twice = weighted (a,b)=7
    assert merges[0] == ("a", "b")
    assert ("c", "d") not in merges  # hapax pair never merges
    with pytest.raises(ValueError, match="num_merges"):
        train_bpe(df, num_merges=0)


def test_train_bpe_fuzz_vs_reference(spark):
    """train_bpe against the independent Counter-based trainer on
    RANDOM small-alphabet corpora (hypothesis): tiny alphabets force
    dense pair collisions, ties, hapax tails, and repeated-symbol
    words (aaa -> overlapping pairs) that a fixed corpus can't cover.
    One histogram aggregate per example; merge loops run driver-side
    in both implementations."""
    from collections import Counter

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import train_bpe

    word = st.text(alphabet="ab", min_size=1, max_size=5)
    corpus = st.lists(
        st.lists(word, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=6,
    )

    def reference(rows, num_merges):
        hist = Counter()
        for t in rows:
            for w in t.split():
                hist[w] += 1
        vocab = {tuple(w): c for w, c in hist.items()}
        want = []
        for _ in range(num_merges):
            pc = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += c
            if not pc:
                break
            best = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
            if best[1] < 2:
                break
            a, b = best[0]
            nv = Counter()
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nv[tuple(out)] += c
            vocab = dict(nv)
            want.append((a, b))
        return want

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus)
    def inner(rows):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(rows)), "text": rows})
        )
        assert train_bpe(df, num_merges=5) == reference(rows, 5)

    inner()


def test_pack_sequences_fuzz_vs_reference(spark):
    """Unsalted greedy packing against an independent plain-Python
    greedy on RANDOM per-doc token counts (hypothesis): zero-token
    docs, exact-budget fills, over-budget docs (clamped to budget),
    and multi-shard interleavings all arise from the sampler.  The
    Spark side runs the real applyInPandas path."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import pack_sequences

    BUDGET = 5
    docs = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),   # token count (8 > budget)
            st.sampled_from(["s0", "s1"]),           # shard
        ),
        min_size=1,
        max_size=14,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(docs)
    def inner(rows):
        pdf = pd.DataFrame(
            {
                "doc_id": range(len(rows)),
                "text": ["w " * n for n, _ in rows],
                "source": [s for _, s in rows],
            }
        )
        got = {
            (r.source, r.doc_id): (r.seq_id, r.doc_tokens)
            for r in pack_sequences(
                spark.createDataFrame(pdf), budget=BUDGET
            ).collect()
        }
        # independent greedy per shard in doc_id order
        want = {}
        for shard in ("s0", "s1"):
            seq, cum = 0, 0
            for i, (n, s) in enumerate(rows):
                if s != shard:
                    continue
                t = min(n, BUDGET)
                if cum + t > BUDGET:
                    seq += 1
                    cum = 0
                want[(shard, i)] = (seq, t)
                cum += t
        assert got == want, (rows, got, want)

    inner()


def test_bpe_encode_roundtrip_and_compression(docs, spark):
    """bpe_encode invariants on the corpus: with no merges, pieces are
    exactly the characters of the whitespace tokens; with trained
    merges the piece count strictly shrinks on merge-bearing docs and
    never grows; concatenated pieces always rebuild the concatenated
    (lowercased) tokens."""
    from dfsql_spark.operators.text import bpe_encode, train_bpe, ws_tokens

    chars = {
        r.doc_id: r.n_pieces
        for r in bpe_encode(docs, merges=[]).collect()
    }
    want_chars = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.aggregate(
                F.transform(
                    ws_tokens("text", lower=True), lambda w: F.length(w).cast("bigint")
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("n"),
        ).collect()
    }
    assert chars == want_chars
    merges = train_bpe(docs, num_merges=50)
    assert merges
    enc = bpe_encode(docs, merges=merges)
    pieces = {r.doc_id: (r.n_pieces, r.pieces) for r in enc.collect()}
    assert all(n <= chars[d] for d, (n, _) in pieces.items())
    assert sum(n for n, _ in pieces.values()) < sum(chars.values())
    # roundtrip: concat(pieces) == concat(lowercased tokens), per doc
    bad = (
        enc.join(docs, "doc_id")
        .filter(
            F.concat_ws("", F.col("pieces"))
            != F.array_join(ws_tokens("text", lower=True), "")
        )
        .count()
    )
    assert bad == 0


def test_temperature_rebalance_matches_oracle_and_limits(docs, duck):
    """temperature_rebalance == the DuckDB mirror of the closed form
    POWER(min_n/n, 1-alpha) with the shared salted-md5 keep decision;
    alpha=1 keeps everything; alpha=0 targets uniform shares (the
    smallest stratum kept fully)."""
    from dfsql_spark.operators.text import temperature_rebalance

    alpha = 0.3
    got = sorted(
        r.doc_id for r in temperature_rebalance(docs, alpha=alpha).collect()
    )
    want = sorted(
        r[0]
        for r in duck.sql(
            f"""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
            FROM documents GROUP BY source
        ), rates AS (
            SELECT source,
                   POWER(MIN(n) OVER () / n, 1.0 - {alpha}) AS keep_rate
            FROM counts
        )
        SELECT doc_id
        FROM documents d JOIN rates r USING (source)
        WHERE CAST('0x' || substr(md5('temp:' || d.text), 1, 8) AS BIGINT)
              % 10000 < r.keep_rate * 10000
        """
        ).fetchall()
    )
    assert got == want
    assert got
    # alpha=1 -> natural proportions -> every row kept
    assert temperature_rebalance(docs, alpha=1.0).count() == docs.count()
    # smallest stratum always kept fully (rate 1.0 exactly)
    totals = {
        r.source: r["count"] for r in docs.groupBy("source").count().collect()
    }
    smallest = min(totals, key=lambda s: (totals[s], s))
    kept = {
        r.source: r["count"]
        for r in temperature_rebalance(docs, alpha=0.0)
        .groupBy("source")
        .count()
        .collect()
    }
    assert kept[smallest] == totals[smallest]
    with pytest.raises(ValueError, match="alpha"):
        temperature_rebalance(docs, alpha=1.5)


def test_temperature_rebalance_skewed_strata(spark):
    """The testdata strata are equal-sized (every rate 1.0), so the
    down-sampling arithmetic needs a skewed corpus: rates must follow
    (min_n/n)^(1-alpha) per stratum — small kept fully, large strata
    cut — against an independently computed python mirror of both the
    rate and the md5 keep decision."""
    import hashlib

    import pandas as pd

    from dfsql_spark.operators.text import temperature_rebalance

    rows = (
        [("tiny", f"tiny doc {i}") for i in range(20)]
        + [("mid", f"mid doc {i}") for i in range(200)]
        + [("big", f"big doc {i}") for i in range(800)]
    )
    pdf = pd.DataFrame(rows, columns=["source", "text"])
    pdf["doc_id"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    alpha = 0.3
    got = {r.doc_id for r in temperature_rebalance(df, alpha=alpha).collect()}

    rate = {s: (20.0 / n) ** (1.0 - alpha) for s, n in
            (("tiny", 20.0), ("mid", 200.0), ("big", 800.0))}

    def keep(src, text):
        h = int(hashlib.md5(f"temp:{text}".encode()).hexdigest()[:8], 16)
        return (h % 10_000) < rate[src] * 10_000

    want = {r.doc_id for _, r in pdf.iterrows() if keep(r.source, r.text)}
    assert got == want
    kept = {s: 0 for s in rate}
    for _, r in pdf.iterrows():
        if r.doc_id in got:
            kept[r.source] += 1
    assert kept["tiny"] == 20                       # rate exactly 1.0
    # binomial wiggle around rate*n for the down-sampled strata
    assert 0 < kept["mid"] < 200 and 0 < kept["big"] < 800
    assert kept["big"] / 800 < kept["mid"] / 200    # bigger → cut harder


def test_cap_per_key_matches_naive_window_oracle(docs, duck):
    """cap_per_key's salted two-phase plan must return EXACTLY the
    naive single-window result (DuckDB row_number oracle): the global
    top-cap per key under (md5 priority, doc_id) ascending."""
    from dfsql_spark.operators.text import cap_per_key

    cap = 7
    got = sorted(
        r.doc_id for r in cap_per_key(docs, "source", cap=cap).collect()
    )
    want = sorted(
        r[0]
        for r in duck.sql(
            f"""
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('cap:' || doc_id), doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= {cap}
        """
        ).fetchall()
    )
    assert got == want
    assert got  # non-degenerate


def test_cap_per_key_salted_equals_naive_and_caps(docs):
    """Two-phase (salted) and naive plans are value-identical; every
    key ends at <= cap rows; keys already under the cap keep all."""
    from dfsql_spark.operators.text import cap_per_key

    cap = 5
    salted = {r.doc_id for r in cap_per_key(docs, "source", cap=cap).collect()}
    naive = {
        r.doc_id
        for r in cap_per_key(
            docs, "source", cap=cap, salt_partitions=None
        ).collect()
    }
    assert salted == naive
    per = {
        r.source: r["count"]
        for r in cap_per_key(docs, "source", cap=cap)
        .groupBy("source")
        .count()
        .collect()
    }
    totals = {
        r.source: r["count"] for r in docs.groupBy("source").count().collect()
    }
    assert all(n <= cap for n in per.values()), per
    big_cap = max(totals.values()) + 1
    assert {
        r.source: r["count"]
        for r in cap_per_key(docs, "source", cap=big_cap)
        .groupBy("source")
        .count()
        .collect()
    } == totals
    with pytest.raises(ValueError, match="cap"):
        cap_per_key(docs, "source", cap=0)
    # original schema preserved (no helper columns leak)
    assert cap_per_key(docs, "source", cap=cap).columns == docs.columns


def test_heavy_hitter_ngrams_matches_naive_oracle(docs, duck):
    """heavy_hitter_ngrams (Misra-Gries candidates + exact recount)
    must equal the naive full-aggregate answer, here the DuckDB
    groupBy/HAVING oracle on the corpus trigrams."""
    from dfsql_spark.operators.text import heavy_hitter_ngrams

    # total trigrams at sf0.001 is ~27k -> guarantee bound ~6.6 at the
    # default k_capacity; 8 clears it and the corpus has hitters there
    thr = 8
    got = sorted(
        (r.ngram, r.n)
        for r in heavy_hitter_ngrams(docs, threshold_count=thr, n=3).collect()
    )
    want = sorted(
        (g, c)
        for g, c in duck.sql(
            f"""
        WITH toks AS (
            SELECT list_filter(string_split_regex(text, '\\s+'),
                               x -> x != '') AS t
            FROM documents
        ), grams AS (
            SELECT array_to_string(t[u.i : u.i + 2], ' ') AS g
            FROM toks, unnest(range(1, len(t) - 1)) u(i)
            WHERE len(t) >= 3
        )
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n
        FROM grams GROUP BY g HAVING COUNT(*) >= {thr}
        """
        ).fetchall()
    )
    assert got == want
    assert got  # corpus has planted near-dup boilerplate => hitters exist


def test_heavy_hitter_ngrams_small_capacity_and_validation(spark):
    """With a tiny MG capacity the planted banner still surfaces with
    its EXACT count (the recount fixes MG's undercounts), and a
    threshold below the guarantee bound raises instead of silently
    under-reporting."""
    import pandas as pd

    from dfsql_spark.operators.text import heavy_hitter_ngrams

    banner = "subscribe to our newsletter"
    rows = [f"doc {i} text {banner} filler{i} tail{i}" for i in range(40)] + [
        f"unique{i} words{i} only{i} here{i}" for i in range(60)
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(rows)), "text": rows})
    ).repartition(4)
    out = {
        r.ngram: r.n
        for r in heavy_hitter_ngrams(
            df, threshold_count=40, n=3, k_capacity=16
        ).collect()
    }
    assert out.get("subscribe to our") == 40
    assert out.get("to our newsletter") == 40
    with pytest.raises(ValueError, match="k_capacity"):
        heavy_hitter_ngrams(df, threshold_count=2, n=3, k_capacity=8)
    with pytest.raises(ValueError, match="threshold_count"):
        heavy_hitter_ngrams(df, threshold_count=0, n=3)


def test_winnow_guarantee_and_density(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    >= k+w-1 share at least one fingerprint; unrelated docs (here:
    disjoint alphabets) share none.  Selected density is ~2/(w+1)."""
    import pandas as pd

    from dfsql_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"  # >> k+w-1
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "AAAA " + shared + " BBBB CCCC DDDD EEEE",
                    "XXXX YYYY ZZZZ " + shared + " WWWW",
                    "0123456789 " * 8,  # disjoint character content
                ],
            }
        )
    )
    k, w = 8, 4
    fps = winnow_fingerprints(docs, k=k, w=w)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("fps")).collect()
    }
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density: #selected / #grams ≈ 2/(w+1) (loose band: winnowing's
    # expected density is 2/(w+1)=0.4 for random-ish hashes)
    n_grams = len("AAAA " + shared + " BBBB CCCC DDDD EEEE") - k + 1
    assert 0.15 <= len(by_doc[1]) / n_grams <= 0.7
    with pytest.raises(ValueError, match="k and w"):
        winnow_fingerprints(docs, k=0)


def test_chunk_documents_coverage_and_edges(spark):
    """Chunks cover the full document with the configured overlap;
    short docs yield exactly one chunk; empty docs yield none;
    parameter validation."""
    import pandas as pd

    from dfsql_spark.operators.text import chunk_documents

    long = "x" * 1050
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [long, "short", ""]})
    )
    out = chunk_documents(docs, max_chars=500, overlap=100).toPandas()
    c1 = out[out.doc_id == 1].sort_values("chunk_idx")
    # starts advance by stride=400; coverage: last chunk reaches 1050
    assert list(c1.chunk_start) == [1, 401, 801]
    assert list(c1.n_chunk_chars) == [500, 500, 250]
    assert int(c1.chunk_start.iloc[-1] + c1.n_chunk_chars.iloc[-1] - 1) == 1050
    # overlap: consecutive chunks share exactly `overlap` chars
    assert (
        c1.chunk.iloc[0][-100:] == c1.chunk.iloc[1][:100]
    )
    assert list(out[out.doc_id == 2].chunk) == ["short"]
    assert (out.doc_id == 3).sum() == 0
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, max_chars=100, overlap=100)


def test_winnow_overlap_detects_containment(spark):
    """The use-case Jaccard misses: a 60-char passage quoted inside an
    otherwise-unrelated document.  Winnowing guarantees a shared
    fingerprint for any common substring >= k+w-1 chars, so the pair
    must surface; two unrelated docs must not."""
    import pandas as pd

    from dfsql_spark.operators.dedup import ngram_jaccard_pairs, winnow_overlap_pairs

    passage = "four score and seven years ago our fathers brought forth a nation"
    filler_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    filler_b = "one two three four five six seven eight nine ten eleven " * 6
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    filler_a + passage,
                    filler_b + passage + " extra trailing words here",
                    "completely different content with nothing quoted at all " * 7,
                ],
            }
        )
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(docs, min_shared=1, k=16, w=8).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # and whole-doc Jaccard at the d02 threshold indeed misses it —
    # the quoted passage is a small fraction of either doc
    j = ngram_jaccard_pairs(docs, threshold=0.6).count()
    assert j == 0


def test_decontaminate_flags_planted_overlap(spark):
    """A doc sharing a 13-token run with an eval doc is flagged; a doc
    sharing only 12 tokens is not."""
    import pandas as pd

    from dfsql_spark.operators.dedup import ngram_decontaminate

    run13 = " ".join(f"w{i}" for i in range(13))
    run12 = " ".join(f"w{i}" for i in range(12))
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"prefix {run13} suffix",      # full 13-run -> flagged
                    f"prefix {run12} other words", # only 12 -> clean
                    "completely unrelated text here",
                ],
            }
        )
    )
    eval_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": f"eval intro {run13} eval outro"})
    )
    got = {(r.doc_id, r.eval_doc_id) for r in ngram_decontaminate(corpus, eval_df).collect()}
    assert got == {(1, 100)}


def test_decontaminate_short_docs_yield_no_grams(spark):
    import pandas as pd

    from dfsql_spark.operators.dedup import ngram_decontaminate

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["only five words right here now"]})
    )
    eval_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["only five words right here now"]})
    )
    # identical docs but shorter than n: no gram, no flag
    assert ngram_decontaminate(corpus, eval_df, n=13).count() == 0
    # at n <= doc length they collide
    assert ngram_decontaminate(corpus, eval_df, n=6).count() == 1


def test_repetition_ratio_semantics(spark):
    import pandas as pd

    from dfsql_spark.operators.text import repetition_ratio

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spam spam spam spam spam",   # one distinct bigram of 4
                    "all words here are unique",  # no repeated bigram
                    "solo",                       # < 2 tokens -> 0 grams
                ],
            }
        )
    )
    rows = {r.doc_id: (r.rep_ratio, r.n_grams) for r in repetition_ratio(df).collect()}
    assert rows[1] == (0.75, 4)
    assert rows[2] == (0.0, 4)
    assert rows[3] == (0.0, 0)


def test_decontaminate_hash_grams_identical(docs):
    """``hash_grams=True`` (the 8-byte-shuffle-key scale path) produces
    the identical pair set as the exact string-keyed join on a real
    corpus (VERDICT r5 item 5)."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.dedup import ngram_decontaminate

    # eval set = a slice of the corpus itself -> guaranteed collisions
    eval_df = docs.orderBy("doc_id").limit(8).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    exact = ngram_decontaminate(docs, eval_df, n=13)
    hashed = ngram_decontaminate(docs, eval_df, n=13, hash_grams=True)
    e = {(r.doc_id, r.eval_doc_id) for r in exact.collect()}
    h = {(r.doc_id, r.eval_doc_id) for r in hashed.collect()}
    assert e == h
    assert e  # non-vacuous: the planted slice must collide


def test_pack_sequences_salted_single_shard(spark):
    """``max_docs_per_task`` (VERDICT r5 item 6): a one-shard corpus
    splits into contiguous sub-shards that pack in parallel; budget is
    still respected, seq_ids stay deterministic and unique, and every
    doc keeps its token count."""
    import pandas as pd

    from pyspark.sql import functions as F

    from dfsql_spark.operators.text import pack_sequences

    rows = pd.DataFrame(
        {
            "doc_id": range(50),
            "source": ["mono"] * 50,
            "text": ["tok " * 100] * 50,  # 100 tokens each
        }
    )
    df = spark.createDataFrame(rows)
    salted = pack_sequences(df, budget=512, max_docs_per_task=10)
    out = salted.collect()
    assert len(out) == 50
    assert {r.doc_id for r in out} == set(range(50))
    assert all(r.doc_tokens == 100 for r in out)
    # budget holds within every sequence
    over = (
        salted.groupBy("source", "seq_id")
        .agg(F.sum("doc_tokens").alias("s"))
        .filter(F.col("s") > 512)
        .count()
    )
    assert over == 0
    # sub-shards of 10 docs x 100 tokens: 5 docs/seq -> 2 seqs/bucket,
    # seq_ids renumbered as bucket*10 + local
    seq_ids = sorted({r.seq_id for r in out})
    assert seq_ids == [b * 10 + s for b in range(5) for s in (0, 1)]
    # deterministic across runs
    again = pack_sequences(df, budget=512, max_docs_per_task=10).collect()
    assert sorted((r.doc_id, r.seq_id) for r in again) == sorted(
        (r.doc_id, r.seq_id) for r in out
    )
    # and a sequence never spans a bucket cut: docs 0-9 in bucket 0, etc.
    for r in out:
        assert r.seq_id // 10 == r.doc_id // 10


def test_pack_sequences_salted_matches_unsalted_at_cut_free_sizes(spark):
    """When every sub-shard boundary falls exactly on a sequence
    boundary, salted output equals the unsalted pack bit-for-bit."""
    import pandas as pd

    from dfsql_spark.operators.text import pack_sequences

    # 4 docs of 256 tokens = exactly 2 per 512-seq; cut every 2 docs
    rows = pd.DataFrame(
        {
            "doc_id": range(8),
            "source": ["m"] * 8,
            "text": ["t " * 256] * 8,
        }
    )
    df = spark.createDataFrame(rows)
    unsalted = {
        r.doc_id: r.seq_id for r in pack_sequences(df, budget=512).collect()
    }
    salted = {
        r.doc_id: (r.seq_id // 2, r.seq_id % 2)
        for r in pack_sequences(df, budget=512, max_docs_per_task=2).collect()
    }
    # bucket*2+local with 1 seq per bucket -> seq_id = 2*bucket; the
    # unsalted pack assigns seq k to docs 2k,2k+1
    for doc, useq in unsalted.items():
        assert salted[doc] == (useq, 0)


def test_c4_filters_planted_flags(spark):
    """Planted documents exercise every C4 signal: terminal-punct
    lines, curly braces, lorem ipsum, short docs, long-word docs."""
    import pandas as pd

    from dfsql_spark.operators.text import c4_filters

    good = " ".join(["word"] * 60)  # 60 words, mean len 4 -> keep
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                good,
                "Line one.\nline two?\nno punct here\n",  # 2/4 lines terminal
                good + " {code}",                          # curly -> drop
                "Lorem Ipsum dolor " + good,               # lorem -> drop
                "too short",                               # < 50 words
            ],
        }
    )
    out = {r.doc_id: r for r in c4_filters(spark.createDataFrame(rows)).collect()}
    assert out[1].keep_doc and out[1].n_words == 60
    assert out[2].n_lines == 4 and abs(out[2].term_punct_ratio - 0.5) < 1e-12
    assert out[3].has_curly and not out[3].keep_doc
    assert out[4].has_lorem and not out[4].keep_doc
    assert not out[5].keep_doc and out[5].n_words == 2


def test_salted_skew_join_matches_plain_join(spark):
    """Salted join result multiset equals the plain join (inner and
    left), including null-extension of unmatched left rows."""
    import pandas as pd

    from dfsql_spark.operators.skew import salted_skew_join

    big = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 50 + [2] * 3 + [9], "v": range(54)})
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", "c"]})
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.v, r.name)
            for r in salted_skew_join(big, small, on="k", how=how, num_salts=4).collect()
        )
        want = sorted(
            (r.k, r.v, r.name) for r in big.join(small, "k", how).collect()
        )
        assert got == want, how
    with pytest.raises(ValueError, match="how"):
        salted_skew_join(big, small, on="k", how="right")


def test_semantic_dedup_subset_and_recall(emb):
    """SemDeDup pairs are a subset of the exact cosine pairs (same
    threshold) and recover >= 50% of them at the entry settings."""
    from dfsql_spark.operators.similarity import (
        embedding_neardup_pairs,
        semantic_dedup_pairs,
    )

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(emb, threshold=0.4, use_lsh=False)
        .select("id_a", "id_b")
        .collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(emb, threshold=0.4, n_clusters=4)
        .select("id_a", "id_b")
        .collect()
    }
    assert found <= exact
    assert len(found) >= 0.5 * len(exact)
    # IVF-style multi-probe bounds the boundary-split recall loss: at
    # sf0.1 single-probe recall measured 0.491 (just under the floor);
    # n_probe=2 measured 0.948-0.966 across sfs with ZERO spurious
    # pairs (the in-cell compare is exact cosine — probing only adds
    # candidates).  Pin: still a subset, recall strictly improves and
    # clears a higher floor, n_probe=1 stays the single-cell path.
    probed = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(emb, threshold=0.4, n_clusters=4, n_probe=2)
        .select("id_a", "id_b")
        .collect()
    }
    assert probed <= exact
    assert found <= probed
    assert len(probed) >= 0.9 * len(exact)
    with pytest.raises(ValueError, match="n_probe"):
        semantic_dedup_pairs(emb, threshold=0.4, n_clusters=4, n_probe=0)
    with pytest.raises(ValueError, match="compare"):
        semantic_dedup_pairs(emb, threshold=0.4, compare="fast")


def test_semantic_dedup_arrow_and_expr_paths_agree(emb):
    """The BLAS (arrow) and codegen'd-expression in-cell compares must
    emit the identical pair set — the physical path is a performance
    choice, never a semantic one (pairs exactly at a float-rounding
    boundary of the threshold are the only theoretical divergence;
    none exist in this corpus)."""
    from dfsql_spark.operators.similarity import semantic_dedup_pairs

    for probe in (1, 2):
        arrow = {
            (r.id_a, r.id_b)
            for r in semantic_dedup_pairs(
                emb, threshold=0.4, n_clusters=4, n_probe=probe, compare="arrow"
            ).collect()
        }
        expr = {
            (r.id_a, r.id_b)
            for r in semantic_dedup_pairs(
                emb, threshold=0.4, n_clusters=4, n_probe=probe, compare="expr"
            ).collect()
        }
        assert arrow == expr, (probe, arrow ^ expr)
        assert arrow


def test_media_dedup_hash_grouping(spark):
    """Identical payloads collapse to one group (min-id survivor,
    correct copy count); distinct payloads stay separate."""
    import pandas as pd

    from dfsql_spark.operators.multimodal import attach_fake_media, media_dedup

    rows = pd.DataFrame(
        {"doc_id": [1, 2, 3, 10], "text": ["aa", "bb", "aa", "aa"]}
    )
    out = {
        r.payload_sha256: (r.survivor_id, r.n_copies)
        for r in media_dedup(attach_fake_media(spark.createDataFrame(rows))).collect()
    }
    assert len(out) == 2
    assert (1, 3) in out.values()  # 'aa' x3 -> survivor 1
    assert (2, 1) in out.values()


def test_run_checks_single_pass_and_results(spark):
    """A full check suite evaluates in ONE aggregation job (single
    scan, one wide agg row, codegen'd stack unpivot) and reports
    per-check pass/observed correctly, including failures."""
    from dfsql_spark.operators.checks import (
        in_range,
        matches_regex,
        not_null,
        row_count_at_least,
        run_checks,
        unique,
        values_in,
    )
    from dfsql_spark.plans.audit import plan_summary

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    report = run_checks(
        li,
        [
            row_count_at_least(1000),
            not_null("l_orderkey"),
            unique("l_orderkey"),  # NOT unique (multi-line orders) -> fails
            in_range("l_discount", 0.0, 0.1),
            values_in("l_returnflag", ["A", "N", "R"]),
            matches_regex("l_linestatus", "^[OF]$"),
        ],
    )
    rows = {r.check: (r.passed, r.observed) for r in report.collect()}
    assert rows["row_count_at_least(1000)"][0] is True
    assert rows["not_null(l_orderkey)"] == (True, 0.0)
    assert rows["unique(l_orderkey)"][0] is False  # observed = n distinct
    assert rows["in_range(l_discount,0.0,0.1)"][0] is True
    assert rows["values_in(l_returnflag)"][0] is True
    assert rows["matches_regex(l_linestatus)"] == (True, 1.0)
    # single-pass: exactly one scan of lineitem in the plan
    s = plan_summary(report)
    assert len(s.read_schemas) == 1, s.read_schemas
    with pytest.raises(ValueError, match="at least one"):
        run_checks(li, [])


def test_check_boundary_semantics(spark):
    """Edge values where check semantics could silently flip: in_range
    is CLOSED on both ends (values exactly lo/hi pass, one ulp outside
    fails); a NULL counts as out-of-range for in_range/values_in (a
    missing value is never a valid one); matches_regex is a full-line
    anchor only when the pattern anchors it."""
    import pandas as pd

    from dfsql_spark.operators.checks import in_range, run_checks, values_in

    df = spark.createDataFrame(
        pd.DataFrame({"x": [0.0, 0.1, 0.05], "y": ["A", "N", "R"]})
    )
    rows = {
        r.check: r.passed
        for r in run_checks(df, [in_range("x", 0.0, 0.1)]).collect()
    }
    assert rows["in_range(x,0.0,0.1)"] is True  # both edges inclusive
    df_out = spark.createDataFrame(
        pd.DataFrame({"x": [0.1 + 1e-12], "y": ["A"]})
    )
    (r,) = run_checks(df_out, [in_range("x", 0.0, 0.1)]).collect()
    assert r.passed is False  # one ulp past hi fails
    df_null = spark.createDataFrame(
        [(None, None)], schema="x double, y string"
    )
    got = {
        r.check: r.passed
        for r in run_checks(
            df_null, [in_range("x", 0.0, 0.1), values_in("y", ["A"])]
        ).collect()
    }
    assert got["in_range(x,0.0,0.1)"] is False
    assert got["values_in(y)"] is False


def test_run_checks_empty_table_semantics(spark):
    """Empty input: fraction-checks observe 0.0 and pass; row-count
    floor fails — no NULL leakage into the report."""
    import pandas as pd

    from dfsql_spark.operators.checks import (
        not_null,
        row_count_at_least,
        run_checks,
    )

    empty = spark.createDataFrame(pd.DataFrame({"x": [1.0]})).filter("x < 0")
    rows = {
        r.check: (r.passed, r.observed)
        for r in run_checks(
            empty, [row_count_at_least(1), not_null("x")]
        ).collect()
    }
    assert rows["row_count_at_least(1)"] == (False, 0.0)
    assert rows["not_null(x)"] == (True, 0.0)


def test_remove_duplicate_lines_semantics(spark):
    """Global first occurrence (doc asc, pos asc) survives; later
    exact occurrences are deleted; short lines are exempt; a doc that
    loses every line comes back with text='' rather than vanishing."""
    import pandas as pd

    from dfsql_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta\n\ncopyright banner\nunique one",
                    "copyright banner\nunique two\n\nalpha beta",
                    "copyright banner",
                ],
            }
        )
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_lines(docs, min_line_chars=1).collect()
    }
    # doc 1 is first everywhere: keeps all lines verbatim
    assert out[1].text == "alpha beta\n\ncopyright banner\nunique one"
    assert (out[1].n_lines, out[1].n_kept) == (4, 4)
    # doc 2 loses both repeats but keeps its blank (exempt) line
    assert out[2].text == "unique two\n"
    assert (out[2].n_lines, out[2].n_kept) == (4, 2)
    # doc 3's only line was already claimed by doc 1
    assert out[3].text == ""
    assert (out[3].n_lines, out[3].n_kept) == (1, 0)


def test_remove_duplicate_lines_within_doc_and_empty(spark):
    """A line repeated INSIDE one document keeps only its first
    position, and an empty document round-trips unchanged."""
    import pandas as pd

    from dfsql_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7, 8], "text": ["x y\nmid\nx y", ""]})
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_lines(docs, min_line_chars=1).collect()
    }
    assert out[7].text == "x y\nmid"
    assert (out[7].n_lines, out[7].n_kept) == (3, 2)
    assert out[8].text == ""
    assert (out[8].n_lines, out[8].n_kept) == (1, 1)


def test_d11_regex_synth_precondition_and_equivalence(spark):
    """d11's 8-token line synthesis is one codegen'd regexp_replace;
    that is byte-identical to tokenize/slice/rejoin ONLY for
    single-space-separated text.  Pin both halves: (a) the test corpus
    really is strictly single-space separated (no tabs/newlines/
    doubled spaces/lead/trail), (b) the regex form equals the
    array form on the corpus."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert (
        docs.filter(
            F.col("text").rlike(r"\s\s|\t|\n") | (F.col("text") != F.trim("text"))
        ).count()
        == 0
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    array_form = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    regex_form = F.regexp_replace(
        F.trim(F.col("text")), r"((?:\S+ ){7}\S+) ", "$1\n"
    )
    assert (
        docs.select(array_form.alias("a"), regex_form.alias("b"))
        .filter("a != b")
        .count()
        == 0
    )


def test_bm25_topk_matches_hand_formula(spark):
    """BM25 scores and ranking match a directly-computed Lucene-style
    formula on a tiny corpus; repeated query terms count once."""
    import math

    import pandas as pd

    from dfsql_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "apple banana apple",
                    "banana cherry",
                    "cherry cherry cherry apple",
                ],
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [10, 20], "text": ["apple", "banana cherry cherry"]}
        )
    )
    out = bm25_topk(docs, qs, k=3).collect()
    got = {(r.query_id, r.rank): (r.doc_id, r.score) for r in out}

    n, avgdl, k1, b = 3, 3.0, 1.2, 0.75

    def score(pairs):  # [(tf, dl, df)]
        s = 0.0
        for tf, dl, dfq in pairs:
            idf = math.log(1 + (n - dfq + 0.5) / (dfq + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        return s

    # q10 'apple': d1 (tf=2, dl=3), d3 (tf=1, dl=4); df(apple)=2
    assert got[(10, 1)][0] == 1
    assert abs(got[(10, 1)][1] - score([(2, 3, 2)])) < 1e-9
    assert got[(10, 2)][0] == 3
    assert abs(got[(10, 2)][1] - score([(1, 4, 2)])) < 1e-9
    assert (10, 3) not in got  # d2 has no 'apple'
    # q20 'banana cherry' (dup 'cherry' counted once):
    # d2 matches both terms, d3 cherry-heavy, d1 banana only
    assert got[(20, 1)][0] == 2
    assert abs(got[(20, 1)][1] - score([(1, 2, 2), (1, 2, 2)])) < 1e-9
    assert got[(20, 2)][0] == 3
    assert abs(got[(20, 2)][1] - score([(3, 4, 2)])) < 1e-9
    assert got[(20, 3)][0] == 1
    assert abs(got[(20, 3)][1] - score([(1, 3, 2)])) < 1e-9


def test_bm25_hits_match_post_agg_semijoin(spark):
    """Optimization-round-16 pin (bm25_topk postings pass): filtering
    the exploded token stream down to query terms BEFORE the
    (doc, term) aggregation is value-identical to the round-15 form
    that aggregated the full vocabulary and semi-joined after —
    ``_tf`` counts only the kept term's own occurrences and ``_dl``
    rides every exploded row, so dropping other terms changes
    neither.  Full-output equality on an adversarial corpus: repeated
    and uppercase query terms, docs with no query term (they still
    shape N/avgdl), empty/NULL/whitespace-only docs, tab/newline
    separators."""
    import pandas as pd

    from pyspark.sql import Window

    from dfsql_spark.operators.text import bm25_topk, ws_tokens

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(8),
                "text": [
                    "Apple  banana apple APPLE",
                    "banana\tcherry\ncherry",
                    "no match here at all",
                    "",
                    None,
                    "   \n\t ",
                    "apple",
                    "cherry apple cherry banana cherry",
                ],
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [1, 2], "text": ["APPLE cherry", "banana banana"]})
    )

    def old_form(k1=1.2, b=0.75, k=10, quantize=None):
        # the round-15 pipeline: full-vocabulary (doc, term) aggregate,
        # THEN the query-term semi-join — rebuilt inline as reference
        import math

        toks = ws_tokens("text", lower=True)
        d = docs.select(
            F.col("doc_id").alias("_doc"), toks.alias("_toks")
        ).withColumn("_dl", F.size("_toks"))
        postings = (
            d.select("_doc", "_dl", F.explode("_toks").alias("_term"))
            .groupBy("_doc", "_term")
            .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
        )
        qt = (
            qs.select(
                F.col("query_id").alias("_qid"),
                F.explode(ws_tokens("text", lower=True)).alias("_term"),
            )
            .distinct()
        )
        hits = postings.join(F.broadcast(qt.select("_term").distinct()), "_term")
        hits = hits.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("_term"))
        )
        n_docs = docs.count()
        avgdl = (
            docs.select(
                F.sum(
                    F.regexp_count(
                        F.coalesce(F.col("text"), F.lit("")), F.lit(r"\S+")
                    )
                ).alias("s")
            ).collect()[0]["s"]
            / n_docs
        )
        rows = hits.join(qt, "_term").collect()
        per: dict = {}
        for r in rows:
            idf = math.log(1 + (n_docs - r._df + 0.5) / (r._df + 0.5))
            c = idf * (r._tf * (k1 + 1)) / (
                r._tf + k1 * (1 - b + b * r._dl / avgdl)
            )
            per.setdefault((r._qid, r._doc), 0.0)
            per[(r._qid, r._doc)] += c
        out = []
        for qid in {q for q, _ in per}:
            ranked = sorted(
                ((s, d) for (q, d), s in per.items() if q == qid),
                key=lambda t: (-t[0], t[1]),
            )[:k]
            for i, (s, d) in enumerate(ranked, 1):
                out.append((qid, i, d, round(s, 9)))
        return sorted(out)

    got = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk(docs, qs, k=10).collect()
    )
    assert got == old_form()
    assert got  # non-degenerate


def test_pivot_unpivot_roundtrip(spark):
    """groupBy().pivot(values).unpivot() round-trips to the plain
    long-form aggregate, and the explicit value list keeps the plan
    free of the eager distinct-scan pivot otherwise runs."""
    import pandas as pd

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "g": ["a", "a", "b", "b", "b"],
                "s": ["x", "y", "x", "x", "y"],
                "v": [1.0, 2.0, 3.0, 4.0, 5.0],
            }
        )
    )
    piv = df.groupBy("g").pivot("s", ["x", "y"]).agg(F.sum("v"))
    back = (
        piv.unpivot("g", ["x", "y"], "s", "v")
        .filter(F.col("v").isNotNull())
    )
    long = df.groupBy("g", "s").agg(F.sum("v").alias("v"))
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, long.collect())
    )


def test_snapshot_diff_statuses(spark):
    """added/removed/changed/unchanged classification, NULL-safe
    hashing, and the schema-widening default (new columns outside the
    shared set don't mark every row changed)."""
    import pandas as pd

    from dfsql_spark.operators.versioning import (
        snapshot_diff,
        snapshot_diff_summary,
    )

    old = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["a", "b", "c", None],
                "source": ["s1", "s1", "s2", "s2"],
            }
        )
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 5, 4],
                "text": ["a", "B", "e", None],
                "source": ["s1", "s1", "s2", "s2"],
                "extra": [9, 9, 9, 9],  # not shared: ignored
            }
        )
    )
    got = {
        r.doc_id: r.status for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",  # NULL text hashes equal on both sides
        5: "added",
    }
    summ = {
        (r.source, r.status): r.n
        for r in snapshot_diff_summary(old, new, by="source").collect()
    }
    assert summ == {
        ("s1", "unchanged"): 1,
        ("s1", "changed"): 1,
        ("s2", "removed"): 1,
        ("s2", "unchanged"): 1,
        ("s2", "added"): 1,
    }


def test_snapshot_diff_requires_compare_cols(spark):
    import pandas as pd
    import pytest as _pytest

    from dfsql_spark.operators.versioning import snapshot_diff

    a = spark.createDataFrame(pd.DataFrame({"doc_id": [1]}))
    with _pytest.raises(ValueError, match="no columns"):
        snapshot_diff(a, a).collect()


def test_mmr_rerank_hand_example(spark):
    """Greedy MMR on a hand-checkable 1-query shortlist: two
    near-identical top candidates and one orthogonal one.  Pure
    relevance would return the twins 1-2; MMR (lam=0.5) must demote
    the second twin below the orthogonal candidate."""
    import pandas as pd

    from dfsql_spark.operators.similarity import mmr_rerank

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                "embedding": [
                    [1.0, 0.0],          # twin A
                    [0.999, 0.01],       # twin B (near-dup of A)
                    [0.0, 1.0],          # orthogonal
                ],
            }
        )
    )
    cands = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [10, 10, 10],
                "neighbor_id": [1, 2, 3],
                "rank": [1, 2, 3],
                "cos_sim": [0.99, 0.98, 0.50],
            }
        )
    )
    out = (
        mmr_rerank(cands, corpus, k=3, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.neighbor_id for r in out] == [1, 3, 2]
    # first pick scores lam * relevance exactly
    assert abs(out[0].mmr_score - 0.5 * 0.99) < 1e-12
    # second pick: orthogonal to A -> no penalty beyond its ~0 sim
    assert out[1].mmr_score > out[2].mmr_score


def test_mmr_rerank_lam1_is_pure_relevance(spark):
    """lam=1 disables the diversity penalty: MMR order must equal the
    relevance order of the shortlist, and composing with cosine_topk
    round-trips ids/scores."""
    import pandas as pd

    from dfsql_spark.operators.similarity import cosine_topk, mmr_rerank

    corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (
        corpus.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    short = cosine_topk(corpus, queries, k=8)
    out = mmr_rerank(short, corpus, k=5, lam=1.0).toPandas()
    base = short.filter(F.col("rank") <= 5).toPandas()
    key = ["query_id", "neighbor_id"]
    merged = out.merge(
        base, left_on=key + ["mmr_rank"], right_on=key + ["rank"]
    )
    assert len(merged) == len(out) == len(base)
    assert (merged["cos_sim_x"] - merged["cos_sim_y"]).abs().max() < 1e-9


def test_mmr_rerank_short_group_and_determinism(spark):
    """Groups smaller than k return the whole group; two runs are
    byte-identical (deterministic tie-breaks)."""
    import pandas as pd

    from dfsql_spark.operators.similarity import mmr_rerank

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [1, 2], "embedding": [[1.0, 0.0], [1.0, 0.0]]}
        )
    )
    cands = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [7, 7],
                "neighbor_id": [1, 2],
                "cos_sim": [0.9, 0.9],  # exact tie -> id asc wins
            }
        )
    )
    a = mmr_rerank(cands, corpus, k=10, lam=0.7).orderBy("mmr_rank").collect()
    b = mmr_rerank(cands, corpus, k=10, lam=0.7).orderBy("mmr_rank").collect()
    assert a == b
    assert [r.neighbor_id for r in a] == [1, 2]
    assert len(a) == 2


def _inc_docs(spark, rows):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]})
    )


def test_incremental_dedup_vs_base_and_within_delta(spark):
    """A delta doc duplicating the snapshot is rejected; a novel doc
    survives; delta-internal dups keep the min id; base rows are never
    returned."""
    from dfsql_spark.operators.dedup import incremental_minhash_dedup

    t_base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    t_new = "kilo lima mike november oscar papa quebec romeo sierra tango"
    t_other = "one two three four five six seven eight nine ten eleven twelve"
    base = _inc_docs(spark, [(1, t_base), (2, t_other)])
    new = _inc_docs(
        spark,
        [
            (101, t_base),   # dup of base doc 1 -> rejected
            (102, t_new),    # novel -> survives
            (103, t_new),    # dup of 102 -> loses to min id
        ],
    )
    kw = dict(num_perm=64, bands=32, verify_threshold=0.3)
    out = sorted(
        r.doc_id for r in incremental_minhash_dedup(new, base, **kw).collect()
    )
    assert out == [102]
    pairs = incremental_minhash_dedup(new, base, return_pairs=True, **kw).collect()
    flags = {(r.id_a, r.id_b): r.vs_base for r in pairs}
    assert flags[(1, 101)] is True
    assert flags[(102, 103)] is False


def test_incremental_dedup_chain_through_base_kills_cluster(spark):
    """CC semantics: new~new~base chains die entirely — the bridge doc
    links the whole cluster to already-accepted content (greedy pair
    drops would wrongly keep the far end)."""
    from dfsql_spark.operators.dedup import incremental_minhash_dedup

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    t3 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    base = _inc_docs(spark, [(1, t1)])
    # 201 = t1+t3 bridges base(1) and 202(t3): one cluster, has base
    new = _inc_docs(spark, [(201, t1 + " " + t3), (202, t3)])
    kw = dict(num_perm=64, bands=32, verify_threshold=0.3)
    out = [r.doc_id for r in incremental_minhash_dedup(new, base, **kw).collect()]
    assert out == []


def test_incremental_dedup_base_sigs_path_matches(spark):
    """Precomputed snapshot signatures (the production posture) give
    byte-identical survivors to recomputing from base_df."""
    from dfsql_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    kw = dict(verify_threshold=0.5)
    a = sorted(r.doc_id for r in incremental_minhash_dedup(new, base, **kw).collect())
    sigs = minhash_signatures(base)
    b = sorted(
        r.doc_id
        for r in incremental_minhash_dedup(new, base_sigs=sigs, **kw).collect()
    )
    assert a == b
    with pytest.raises(ValueError, match="base_df or base_sigs"):
        incremental_minhash_dedup(new)


def test_hashed_embeddings_cross_engine_and_unit_norm(spark):
    """The md5 determinism contract: DuckDB reproduces every nonzero
    bucket value bit-for-bit (this doubles as the round-7 oracle
    design), and normalize=True yields unit vectors except for
    token-free docs (all-zero)."""
    import duckdb

    from dfsql_spark.operators.text import hashed_embeddings

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    raw = hashed_embeddings(docs, dim=16, normalize=False).collect()
    spark_triplets = {
        (r.doc_id, i, round(v, 9))
        for r in raw
        for i, v in enumerate(r.embedding)
        if v != 0.0
    }
    duck = duckdb.sql(
        f"""
        WITH toks AS (
            SELECT doc_id, lower(t) AS t FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS t
                FROM (SELECT * FROM '{SF_DIR}/documents.parquet' LIMIT 50))
            WHERE length(t) > 0
        )
        SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(':' || t), 1, 8)) AS BIGINT)
                    % 16 AS INT) AS b,
               sum(CASE WHEN CAST(('0x' || substr(md5(':' || t), 9, 1))
                             AS BIGINT) < 8
                        THEN 1.0 ELSE -1.0 END) AS v
        FROM toks GROUP BY 1, 2 HAVING sum(CASE WHEN CAST(('0x' ||
             substr(md5(':' || t), 9, 1)) AS BIGINT) < 8
             THEN 1.0 ELSE -1.0 END) != 0
        """
    ).fetchall()
    duck_triplets = {(d, b, round(v, 9)) for d, b, v in duck}
    assert spark_triplets == duck_triplets
    normed = hashed_embeddings(docs, dim=16).collect()
    import math

    for r in normed:
        n = math.sqrt(sum(v * v for v in r.embedding))
        assert abs(n - 1.0) < 1e-9 or n == 0.0


def test_hashed_embeddings_compose_with_ann_and_empty_doc(spark):
    """Embeddings feed cosine_topk directly (a doc's own vector is its
    rank-1 neighbor), and a token-free doc gets a zero vector instead
    of vanishing."""
    import pandas as pd

    from dfsql_spark.operators.similarity import cosine_topk
    from dfsql_spark.operators.text import hashed_embeddings

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    emb = hashed_embeddings(docs, dim=32).withColumnRenamed("doc_id", "vec_id")
    qs = emb.filter("vec_id < 5").selectExpr("vec_id as query_id", "embedding")
    top = cosine_topk(emb, qs, k=3).filter("rank = 1").collect()
    assert all(r.query_id == r.neighbor_id for r in top)

    edge = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["hello world", "   "]})
    )
    out = {r.doc_id: r.embedding for r in hashed_embeddings(edge, dim=8).collect()}
    assert len(out) == 2
    assert all(v == 0.0 for v in out[2])
    assert any(v != 0.0 for v in out[1])


def test_semantic_decontaminate_flags_and_keep_all(spark):
    """Corpus rows near an eval vector (cosine >= threshold) are
    flagged with the right nearest id; keep_all returns every row
    with the boolean; a DuckDB-style brute-force check on the same
    data agrees exactly."""
    import numpy as np
    import pandas as pd

    from dfsql_spark.operators.similarity import semantic_decontaminate

    rng = np.random.RandomState(7)
    base = rng.randn(20, 8)
    # corpus rows 0/1 are near-copies of eval items 100/101
    corpus_m = base.copy()
    eval_m = np.vstack([base[0] + 0.01 * rng.randn(8),
                        base[1] + 0.01 * rng.randn(8),
                        rng.randn(8)])
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(20), "embedding": list(map(list, corpus_m))})
    )
    ev = spark.createDataFrame(
        pd.DataFrame({"vec_id": [100, 101, 102], "embedding": list(map(list, eval_m))})
    )
    hits = {r.vec_id: r for r in semantic_decontaminate(corpus, ev, 0.99).collect()}
    assert set(hits) == {0, 1}
    assert hits[0].nearest_eval_id == 100 and hits[1].nearest_eval_id == 101

    allrows = semantic_decontaminate(corpus, ev, 0.99, keep_all=True).collect()
    assert len(allrows) == 20
    assert sum(r.contaminated for r in allrows) == 2

    # brute-force agreement on max_sim/nearest for every row
    cn = corpus_m / np.linalg.norm(corpus_m, axis=1, keepdims=True)
    en = eval_m / np.linalg.norm(eval_m, axis=1, keepdims=True)
    sims = cn @ en.T
    for r in allrows:
        i = r.vec_id
        assert abs(r.max_sim - sims[i].max()) < 1e-12
        assert r.nearest_eval_id == 100 + int(np.argmax(sims[i]))


def test_semantic_decontaminate_is_map_only(spark):
    """One corpus scan, zero exchanges: the eval matrix broadcasts via
    the SparkContext, so the plan must contain no shuffle at all."""
    from dfsql_spark.operators.similarity import semantic_decontaminate

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ev = emb.filter("vec_id < 5")
    df = semantic_decontaminate(emb, ev, 0.95)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_weighted_sample_determinism_and_monotonicity(spark):
    """Same scale -> identical survivor set across runs; a row kept at
    weight w is kept at any w' > w (keep decisions are monotone in
    weight, content-addressed in text); weight 0 rows never survive."""
    from dfsql_spark.operators.text import weighted_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "wt", (F.col("doc_id") % 10).cast("double")
    )
    a = sorted(r.doc_id for r in weighted_sample(docs, "wt", scale=0.08).collect())
    b = sorted(r.doc_id for r in weighted_sample(docs, "wt", scale=0.08).collect())
    assert a == b and a
    bigger = set(
        r.doc_id for r in weighted_sample(docs, "wt", scale=0.2).collect()
    )
    assert set(a) <= bigger
    zeros = docs.filter("doc_id % 10 = 0")
    assert weighted_sample(zeros, "wt", scale=0.5).count() == 0


def test_weighted_sample_target_fraction_and_validation(spark):
    """target_fraction derives the scale from one aggregate and lands
    near the requested fraction (binomial variance; no clipping with
    uniform weights); bad arguments raise."""
    import pandas as pd

    from dfsql_spark.operators.text import weighted_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "wt", F.lit(1.0)
    )
    n = docs.count()
    kept = weighted_sample(docs, "wt", target_fraction=0.3).count()
    assert abs(kept / n - 0.3) < 0.08

    with pytest.raises(ValueError, match="exactly one"):
        weighted_sample(docs, "wt")
    with pytest.raises(ValueError, match="exactly one"):
        weighted_sample(docs, "wt", scale=1.0, target_fraction=0.5)
    with pytest.raises(ValueError, match="target_fraction"):
        weighted_sample(docs, "wt", target_fraction=1.5)
    neg = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["x"], "wt": [-1.0]})
    )
    with pytest.raises(ValueError, match="negative weight"):
        weighted_sample(neg, "wt", target_fraction=0.5)
    empty_w = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["x"], "wt": [0.0]})
    )
    assert weighted_sample(empty_w, "wt", target_fraction=0.5).count() == 0
    null_w = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["x", "y"], "wt": [None, 1.0]})
    )
    # NULL weight behaves as SQL filters do: dropped, like weight 0
    assert [
        r.doc_id for r in weighted_sample(null_w, "wt", scale=1.0).collect()
    ] == [2]


def test_weighted_sample_is_map_only_filter(spark):
    """With an explicit scale the plan is a pure filter over the scan —
    no exchange, no aggregate job."""
    from dfsql_spark.operators.text import weighted_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "wt", F.lit(0.5)
    )
    plan = (
        weighted_sample(docs, "wt", scale=0.4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


class TestLineDedupProperties:
    """Hypothesis invariants for the (round-6-rewritten) single-groupBy
    remove_duplicate_lines: for ANY corpus built from a small line
    alphabet (forcing collisions),

    1. every distinct subject line survives exactly once corpus-wide,
    2. every exempt (short) line occurrence survives,
    3. each output doc's lines are a subsequence of its input lines,
    4. the survivor of each subject line is its globally first
       (doc_id, pos) occurrence.

    One Spark job per example — keep max_examples small.
    """

    @staticmethod
    def _check(spark, corpora):
        import pandas as pd

        from dfsql_spark.operators.dedup import remove_duplicate_lines

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": range(len(corpora)),
                    "text": ["\n".join(ls) for ls in corpora],
                }
            )
        )
        out = {
            r.doc_id: r
            for r in remove_duplicate_lines(docs, min_line_chars=2).collect()
        }
        # expected: first-occurrence-wins replay in plain Python.
        # A text field cannot represent "zero lines": '' round-trips
        # through split as ONE empty (exempt) line, so normalize the
        # model the same way.
        seen: set[str] = set()
        for did, lines in enumerate(corpora):
            lines = lines or [""]
            kept = []
            for line in lines:
                if len(line) < 2:
                    kept.append(line)
                elif line not in seen:
                    seen.add(line)
                    kept.append(line)
            r = out[did]
            assert r.text == "\n".join(kept), (did, corpora)
            assert r.n_lines == len(lines)
            assert r.n_kept == len(kept)

    def test_property(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        alphabet = ["aa", "bb", "cc dd", "x", "", "long repeated banner"]
        corpus = st.lists(
            st.lists(st.sampled_from(alphabet), min_size=0, max_size=6),
            min_size=1,
            max_size=5,
        )

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(corpus)
        def inner(corpora):
            self._check(spark, corpora)

        inner()


def test_lm_score_matches_duckdb_mirror(spark):
    """Stupid-backoff bigram LM scoring: DuckDB reproduces every
    (n_bigrams, avg_logp) pair exactly (this doubles as the round-7
    oracle design — DuckDB's log() IS log10, and both engines round
    to 6 dp before comparison)."""
    import duckdb

    from dfsql_spark.operators.text import lm_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    train = docs.filter("source IN ('src0', 'src1')")
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in lm_score(docs, train).collect()
    }
    want = {
        d: (n, lp)
        for d, n, lp in duckdb.sql(
            f"""
        WITH d AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS l
          FROM '{SF_DIR}/documents.parquet'
        ),
        uni AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM (
            SELECT unnest(l) AS w FROM d WHERE source IN ('src0', 'src1')
          ) WHERE w <> '' GROUP BY w
        ),
        tot AS (SELECT SUM(cu) AS n_total FROM uni),
        bi AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM (
            SELECT l[i] AS w1, l[i+1] AS w2
            FROM d, UNNEST(generate_series(1, len(l)-1)) AS t(i)
            WHERE source IN ('src0', 'src1')
          ) GROUP BY w1, w2
        ),
        ex AS (
          SELECT doc_id, l[i] AS w1, l[i+1] AS w2
          FROM d, UNNEST(generate_series(1, len(l)-1)) AS t(i)
        ),
        scored AS (
          SELECT e.doc_id,
                 CASE WHEN bi.cb IS NOT NULL
                      THEN log(CAST(bi.cb AS DOUBLE) / u1.cu)
                      ELSE log(0.4 * CAST(COALESCE(u2.cu, 1) AS DOUBLE)
                               / tot.n_total) END AS logp
          FROM ex e
          LEFT JOIN bi ON e.w1 = bi.w1 AND e.w2 = bi.w2
          LEFT JOIN uni u1 ON e.w1 = u1.w
          LEFT JOIN uni u2 ON e.w2 = u2.w
          CROSS JOIN tot
        ),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 ROUND(AVG(logp), 6) AS avg_logp
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id, COALESCE(a.n_bigrams, 0), a.avg_logp
        FROM (SELECT DISTINCT doc_id FROM d) d LEFT JOIN agg a USING (doc_id)
        """
        ).fetchall()
    }
    assert got == want


def test_lm_score_backoff_semantics(spark):
    """Hand-checked probabilities on a 4-token model: seen bigram =
    count ratio, unseen bigram backs off to alpha * unigram, OOV
    backs off to alpha * 1/N; short and whitespace-only docs keep a
    row with n_bigrams=0 and NULL score."""
    import math

    import pandas as pd
    import pytest as _pytest

    from dfsql_spark.operators.text import lm_score

    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a b a c"]})
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": ["a b", "b c", "z z", "a", "   "],
            }
        )
    )
    out = {r.doc_id: r for r in lm_score(docs, train).collect()}
    # uni: a=2 b=1 c=1, N=4; bigrams: (a,b)=1 (b,a)=1 (a,c)=1
    assert out[1].n_bigrams == 1
    assert out[1].avg_logp == round(math.log10(1 / 2), 6)  # cb=1 / cu(a)=2
    assert out[2].avg_logp == round(math.log10(0.4 * 1 / 4), 6)  # unseen bigram
    assert out[3].avg_logp == round(math.log10(0.4 * 1 / 4), 6)  # OOV token
    assert out[4].n_bigrams == 0 and out[4].avg_logp is None
    assert out[5].n_bigrams == 0 and out[5].avg_logp is None
    with _pytest.raises(ValueError, match="alpha"):
        lm_score(docs, train, alpha=0.0)


def test_lm_score_plan_is_broadcast_only(spark):
    """The corpus-sized exploded bigram stream must never shuffle into
    a sort-merge join: the model is train-slice-sized by construction
    and broadcasts; the only shuffle is the per-doc aggregate."""
    from dfsql_spark.operators.text import lm_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    train = docs.filter("source IN ('src0', 'src1')")
    plan = (
        lm_score(docs, train)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # round-12 scan review: ONE corpus scan (explode_outer carries the
    # bigram-free docs, no id-roster rescan) + two train-slice scans
    # (unigram and bigram aggregates); the pinned unigram table serves
    # n_total and both lookup joins as InMemoryTableScans instead of
    # re-aggregating the slice (raw "Scan parquet" substring counts
    # overcount here — each cached reference prints the cached plan's
    # build subtree, which contains the one build-time scan)
    assert plan.count("InMemoryTableScan") >= 3, plan
    # corpus side: exactly one scan reads the text column outside the
    # cached-model subtrees
    import re as _re

    top = plan.split("InMemoryRelation")[0]
    assert len(_re.findall(r"ReadSchema: struct<doc_id", top)) <= 1, top


def test_dedup_keep_best_prefers_score_over_min_id(spark):
    """Chain a~b~c keeps the highest-scoring member (not min id); ties
    break to min id; docs outside any pair always survive; and the
    survivor count matches dedup_by_components (same clusters, same
    one-per-cluster contract)."""
    import pandas as pd

    from dfsql_spark.operators.dedup import dedup_by_components, dedup_keep_best

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 10, 11, 20, 30, 31],
                "score": [0.1, 0.9, 0.5, 0.7, 0.7, 0.3, 0.2, 0.8],
            }
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": [1, 2, 10, 30],
                "id_b": [2, 3, 11, 31],
            }
        )
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_best(docs, pairs, "score").collect()
    )
    # cluster {1,2,3}: best score 0.9 -> 2; {10,11}: tie 0.7 -> min id 10;
    # {30,31}: best 0.8 -> 31; 20 untouched
    assert kept == [2, 10, 20, 31]
    n_minid = dedup_by_components(docs, pairs).count()
    assert len(kept) == n_minid


def test_dedup_keep_best_matches_duckdb_closure(spark):
    """On the real corpus pair graph: DuckDB independently recomputes
    the transitive closure (recursive CTE) and the per-cluster argmax
    over the SAME pair/score inputs; survivor sets must match exactly.
    This doubles as the round-7 oracle design (the contract query
    would inline the d02 pair SQL and t02 score SQL here)."""
    import duckdb

    from dfsql_spark.operators.dedup import dedup_keep_best, ngram_jaccard_pairs
    from dfsql_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.6)
    scored = docs.join(
        quality_score(docs).selectExpr("doc_id", "quality AS score"), "doc_id"
    )
    got = sorted(
        r.doc_id
        for r in dedup_keep_best(scored, pairs, "score").select("doc_id").collect()
    )

    pairs_pd = pairs.select("id_a", "id_b").toPandas()  # noqa: F841
    scores_pd = scored.select("doc_id", "score").toPandas()  # noqa: F841
    want = sorted(
        r[0]
        for r in duckdb.sql(
            """
        WITH RECURSIVE edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs_pd
            UNION SELECT id_b, id_a FROM pairs_pd
        ),
        reach AS (
            SELECT src AS node, src AS lbl FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
        ),
        comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
        losers AS (
            SELECT c.node
            FROM comp c JOIN scores_pd q ON q.doc_id = c.node
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY c.component
                ORDER BY q.score DESC, c.node ASC) > 1
        )
        SELECT doc_id FROM scores_pd
        WHERE doc_id NOT IN (SELECT node FROM losers)
        """
        ).fetchall()
    )
    assert got == want


def test_text_classifier_learns_token_signal(spark):
    """GPT-3-style model-based filter: LR over hashed features must
    recover a token-presence signal with >= 0.9 held-out accuracy
    (measured 1.0), using the content-addressed split so train/test
    never leak."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.classify import (
        classifier_score,
        train_text_classifier,
    )
    from dfsql_spark.operators.text import deterministic_split

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labeled = docs.withColumn(
        "label", F.col("text").rlike(r"\bspark\b").cast("int")
    ).join(deterministic_split(docs), "doc_id")
    train = labeled.filter("split = 'train'")
    test = labeled.filter("split != 'train'")
    w, b = train_text_classifier(train, "label", dim=64)
    assert len(w) == 64
    joined = test.select("doc_id", "label").join(
        classifier_score(test, w, b), "doc_id"
    )
    acc = joined.select(
        F.avg(
            ((F.col("prob") > 0.5).cast("int") == F.col("label")).cast("double")
        ).alias("a")
    ).collect()[0]["a"]
    assert acc >= 0.9, acc


def test_classifier_score_fixed_weights_exact_and_no_python(spark):
    """Scoring with FIXED weights is deterministic (bit-identical
    across runs), needs no Python worker in the plan, and hand-checks
    against a numpy sigmoid over the same hashed embeddings."""
    import math

    from dfsql_spark.operators.classify import classifier_score
    from dfsql_spark.operators.text import hashed_embeddings

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    w = [0.5 if i % 3 == 0 else -0.25 for i in range(16)]
    out = classifier_score(docs, w, 0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = {r.doc_id: r.prob for r in out.collect()}
    again = {r.doc_id: r.prob for r in classifier_score(docs, w, 0.1).collect()}
    assert got == again
    emb = {r.doc_id: r.embedding for r in hashed_embeddings(docs, dim=16).collect()}
    for did, vec in list(emb.items())[:10]:
        margin = 0.1 + sum(v * wi for v, wi in zip(vec, w))
        assert abs(got[did] - 1.0 / (1.0 + math.exp(-margin))) < 1e-12
    import pytest as _pytest

    with _pytest.raises(ValueError, match="weights"):
        classifier_score(docs, [], 0.0)


def test_ngram_overlap_fraction_matches_duckdb(spark):
    """Contamination severity: DuckDB recomputes every per-doc
    (n_grams, n_hit, overlap_frac) triple from the same gram
    definition (round-7 oracle design, d15); hash_grams must not
    change the output; short docs keep a NULL-fraction row."""
    import duckdb

    from dfsql_spark.operators.dedup import ngram_overlap_fraction

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter("source <> 'src0'")
    eval_set = docs.filter("source = 'src0'")
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.overlap_frac)
        for r in ngram_overlap_fraction(corpus, eval_set, n=13).collect()
    }
    hashed = {
        r.doc_id: (r.n_grams, r.n_hit, r.overlap_frac)
        for r in ngram_overlap_fraction(
            corpus, eval_set, n=13, hash_grams=True
        ).collect()
    }
    assert got == hashed
    want = {
        d: (n, h, f)
        for d, n, h, f in duckdb.sql(
            f"""
        WITH toks AS (
            SELECT doc_id, source,
                   string_split_regex(trim(text), '\\s+') AS t
            FROM '{SF_DIR}/documents.parquet'
        ), grams AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(t[u.i : u.i + 12], ' ') AS g
            FROM toks, unnest(range(1, len(t) - 11)) u(i)
            WHERE len(t) >= 13
        ), eg AS (
            SELECT DISTINCT g FROM grams WHERE source = 'src0'
        ), agg AS (
            SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM (SELECT * FROM grams WHERE source <> 'src0') c
            LEFT JOIN eg e ON c.g = e.g
            GROUP BY c.doc_id
        )
        SELECT t.doc_id, COALESCE(a.n_grams, 0), COALESCE(a.n_hit, 0),
               CASE WHEN a.n_grams > 0
                    THEN a.n_hit / a.n_grams END AS overlap_frac
        FROM (SELECT DISTINCT doc_id FROM toks WHERE source <> 'src0') t
        LEFT JOIN agg a USING (doc_id)
        """
        ).fetchall()
    }
    assert got == want
    # the planted cross-source near-dups give real signal at both ends
    fracs = [f for _, _, f in got.values() if f is not None]
    assert any(f > 0 for f in fracs) and any(f == 0 for f in fracs)


def test_dedup_keep_best_duplicate_id_rows_survive(spark):
    """Duplicate copies of the winning id must not delete the cluster:
    the members table aggregates to one row per id before the winner
    window, matching dedup_by_components' behavior on non-unique ids."""
    import pandas as pd

    from dfsql_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 1, 2], "score": [0.9, 0.9, 0.1]}
        )
    )
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    kept = sorted(r.doc_id for r in dedup_keep_best(docs, pairs, "score").collect())
    assert kept == [1, 1]


def test_lm_score_empty_train_raises(spark):
    """A train slice with no tokens (misfiltered or whitespace-only)
    must fail loudly, not NULL out every score."""
    import pandas as pd
    import pytest as _pytest

    from dfsql_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b"]})
    )
    empty = docs.filter("doc_id < 0")
    with _pytest.raises(ValueError, match="train_df has no tokens"):
        lm_score(docs, empty)
    ws = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": ["   "]}))
    # the probe runs BEFORE the unigram materialization (round-12
    # review pin): the error path must register no persist for a
    # retry loop to accumulate
    from dfsql_spark.operators import dedup as _dedup

    n_before = len(_dedup._LIVE_PERSISTS)
    with _pytest.raises(ValueError, match="train_df has no tokens"):
        lm_score(docs, ws)
    assert len(_dedup._LIVE_PERSISTS) == n_before


def test_lm_score_pins_one_table_until_released(spark):
    """One call pins exactly one table (the unigram counts) and
    ``release_persists()`` removes it from the cache manager again."""
    import pandas as pd
    from pyspark import StorageLevel

    from dfsql_spark.operators import dedup as _dedup
    from dfsql_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b a", "b a c"]})
    )
    _dedup.release_persists()
    cm = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cm.cachedData().size()

    out = lm_score(docs, docs)
    assert len(_dedup._LIVE_PERSISTS) == 1
    assert cm.cachedData().size() == n_cached + 1
    (uni,) = _dedup._LIVE_PERSISTS
    assert out.count() == 2

    assert _dedup.release_persists() == 1
    assert _dedup._LIVE_PERSISTS == []
    assert cm.cachedData().size() == n_cached
    assert uni.storageLevel == StorageLevel.NONE


def test_epoch_shuffle_deterministic_and_uniform(spark):
    """Content-addressed epoch shuffling: identical order on re-run,
    different order per epoch, a permutation (no rows lost), and the
    key matches DuckDB's md5 exactly (round-7 oracle design)."""
    import duckdb

    from dfsql_spark.operators.text import epoch_shuffle

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source"
    )
    e1 = [r.doc_id for r in epoch_shuffle(docs, epoch=1).collect()]
    e1_again = [r.doc_id for r in epoch_shuffle(docs, epoch=1).collect()]
    e2 = [r.doc_id for r in epoch_shuffle(docs, epoch=2).collect()]
    assert e1 == e1_again
    assert e1 != e2
    assert sorted(e1) == sorted(e2)
    want = [
        r[0]
        for r in duckdb.sql(
            f"""
        SELECT doc_id FROM '{SF_DIR}/documents.parquet'
        ORDER BY md5('epoch:1:' || CAST(doc_id AS VARCHAR))
        """
        ).fetchall()
    ]
    assert e1 == want


def test_curriculum_order_matches_duckdb(spark):
    """Curriculum ordering: stage via ascending thresholds, md5 shuffle
    within stage — DuckDB reproduces the full (doc_id, stage) sequence
    exactly (round-7 oracle design, same md5 contract as t20)."""
    import duckdb

    from dfsql_spark.operators.text import curriculum_order

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    got = [
        (r.doc_id, r.stage)
        for r in curriculum_order(
            docs, "n_chars", thresholds=[200.0, 400.0], epoch=3
        ).collect()
    ]
    want = duckdb.sql(
        f"""
        SELECT doc_id,
               CASE WHEN n_chars IS NULL THEN 3
                    ELSE CAST(n_chars >= 200.0 AS INT)
                       + CAST(n_chars >= 400.0 AS INT) END AS stage
        FROM '{SF_DIR}/documents.parquet'
        ORDER BY stage, md5('curriculum:3:' || CAST(doc_id AS VARCHAR))
        """
    ).fetchall()
    assert got == want
    # easy-first invariant: stages are non-decreasing down the output
    stages = [s for _, s in got]
    assert stages == sorted(stages)


def test_curriculum_order_nulls_last_and_validation(spark):
    import pandas as pd
    import pytest as _pytest

    from dfsql_spark.operators.text import curriculum_order

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "score": [0.1, None, 5.0, 0.9]}
        ).astype({"score": "float64"})
    )
    out = curriculum_order(df, "score", thresholds=[0.5, 2.0]).collect()
    by_id = {r.doc_id: r.stage for r in out}
    assert by_id == {1: 0, 4: 1, 3: 2, 2: 3}  # NULL score → sentinel last stage
    assert out[-1].doc_id == 2
    with _pytest.raises(ValueError, match="ascending"):
        curriculum_order(df, "score", thresholds=[2.0, 0.5])
    # a duplicated threshold would silently double-increment its stage
    with _pytest.raises(ValueError, match="strictly ascending"):
        curriculum_order(df, "score", thresholds=[0.5, 0.5, 2.0])
    # NaN compares greater than every literal in Spark SQL — it must
    # land in the NULL/unscored sentinel stage, not the hardest real
    # one.  Built via SQL CAST: pandas->Spark conversion would turn a
    # float NaN into NULL and never exercise the NaN path.
    nan_df = spark.sql(
        "SELECT 1 AS doc_id, CAST(0.1 AS DOUBLE) AS score "
        "UNION ALL SELECT 2, CAST('NaN' AS DOUBLE) "
        "UNION ALL SELECT 3, CAST(5.0 AS DOUBLE)"
    )
    nan_stages = {
        r.doc_id: r.stage
        for r in curriculum_order(nan_df, "score", thresholds=[0.5, 2.0]).collect()
    }
    assert nan_stages == {1: 0, 3: 2, 2: 3}


def test_bpe_pair_counts_matches_duckdb(spark):
    """One BPE merge round (adjacent char-pair counts): DuckDB
    reproduces every (pair, n) row and the deterministic top-k order
    (round-7 oracle design)."""
    import duckdb

    from dfsql_spark.operators.text import bpe_pair_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = [(r.pair, r.n) for r in bpe_pair_counts(docs, top_k=50).collect()]
    want = duckdb.sql(
        f"""
        WITH w AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
          FROM '{SF_DIR}/documents.parquet'
        ), p AS (
          SELECT substr(w, CAST(i AS INT), 2) AS pair
          FROM w, UNNEST(generate_series(1, length(w) - 1)) AS t(i)
          WHERE length(w) >= 2
        )
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM p GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 50
        """
    ).fetchall()
    assert got == [tuple(r) for r in want]


def test_bpe_pair_counts_handcheck(spark):
    """'aaab aaab c' → pairs aa,aa,ab per word ×2 words; single-char
    words contribute nothing; the max-count pair is the BPE merge."""
    import pandas as pd

    from dfsql_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["aaab aaab c", "  ab  "]})
    )
    got = {r.pair: r.n for r in bpe_pair_counts(df).collect()}
    assert got == {"aa": 4, "ab": 3}
    top = bpe_pair_counts(df, top_k=1).collect()
    assert (top[0].pair, top[0].n) == ("aa", 4)


def test_normalize_nfc_matches_duckdb(spark):
    """NFC normalization is bit-identical to DuckDB's nfc_normalize:
    composed/decomposed forms collapse, so downstream hashes agree
    across engines."""
    import duckdb
    import pandas as pd

    from dfsql_spark.operators.text import normalize_nfc

    texts = [
        "café",            # precomposed é
        "café",           # e + combining acute → composes to é
        "Å ring",          # ANGSTROM SIGN → Å under NFC
        "plain ascii",
        None,
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {
        r.doc_id: r.text for r in normalize_nfc(df, out_col="text").collect()
    }
    want = {
        i: duckdb.sql("SELECT nfc_normalize(?)", params=[t]).fetchone()[0]
        if t is not None
        else None
        for i, t in enumerate(texts)
    }
    assert got == want
    assert got[0] == got[1]  # composed == decomposed after NFC

    import pytest as _pytest

    with _pytest.raises(ValueError, match="normalization form"):
        normalize_nfc(df, form="NFX")


def test_repetition_ratio_struct_form_matches_gram_udf(spark):
    """t11's JVM arrays_zip struct form must stay bit-identical to the
    Arrow word-n-gram UDF it replaced (struct equality == space-joined
    string equality because whitespace tokens cannot contain spaces) —
    for the default bigrams AND a wider n."""
    from dfsql_spark.operators.dedup import _word_ngrams_expr
    from dfsql_spark.operators.text import repetition_ratio

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for n in (2, 3):
        got = {
            r.doc_id: (r.rep_ratio, r.n_grams)
            for r in repetition_ratio(docs, n=n).collect()
        }
        grams = _word_ngrams_expr("text", n)
        want = {
            r.doc_id: (r.rep_ratio, r.n_grams)
            for r in docs.select(
                "doc_id",
                F.when(
                    F.size(grams) > 0,
                    1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
                )
                .otherwise(F.lit(0.0))
                .alias("rep_ratio"),
                F.size(grams).alias("n_grams"),
            ).collect()
        }
        assert got == want


def test_token_count_equals_nonws_run_count(spark):
    """Optimization-round-15 pin (bm25_topk stats pass): counting
    maximal ``\\S+`` runs with regexp_count must equal
    ``size(ws_tokens(...))`` — lowered or not — on whitespace-edge and
    fuzzed inputs, since the stats scan now skips the token-array
    build entirely."""
    import random

    from pyspark.sql import functions as F

    from dfsql_spark.operators.text import ws_tokens

    random.seed(11)
    pieces = ["a", "bc", "\t", " ", "\n", "\x0b", "\f", "\r", "\xa0",
              "İ", "Σ", "1", "#", ""]
    texts = [None, "", " \t\n ", "a b c", "\x0ba b\x0b"]
    texts += [
        "".join(random.choice(pieces) for _ in range(random.randint(0, 30)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = df.select(
        F.size(ws_tokens("text")).alias("n_plain"),
        F.size(ws_tokens("text", lower=True)).alias("n_low"),
        F.regexp_count(
            F.coalesce(F.col("text"), F.lit("")), F.lit(r"\S+")
        ).alias("n_runs"),
    ).collect()
    assert all(r.n_plain == r.n_low == r.n_runs for r in rows)


def test_ws_tokens_one_definition_across_mirrors(spark):
    """The shared whitespace-token definition (text.ws_tokens) must
    agree on EDGE inputs across all three implementations: the Spark
    expression form, the pinned Python UDF (dedup._word_ngrams_expr,
    re.ASCII split + drop empties), and the DuckDB list_filter mirror.
    Edge corpus: tab/newline edges (the old trim-then-split form
    counted empty edge tokens here), NBSP edge (Python .strip() used
    to strip it, ASCII \\s does not — round-8 ADVICE scenario), empty,
    NULL, and all-whitespace text."""
    import duckdb
    import pandas as pd

    from dfsql_spark.operators.dedup import _word_ngrams_expr
    from dfsql_spark.operators.text import token_count, ws_tokens

    texts = [
        "a b c",        # plain
        "\ta b\n",      # ASCII-ws edges: no empty edge tokens
        "a b\xa0",   # NBSP edge: part of the last token (ASCII \s)
        "a  b",         # internal run: one split, no empties
        "",             # -> []
        None,           # -> []
        " \t\n ",       # all-whitespace -> []
        "a\x0bb",       # vertical tab: Java/Python \s split; RE2 does NOT
        "\x0ba b\x0b",  # \x0B edges: dropped by Java/Python, kept by RE2
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    expr_toks = {
        r.doc_id: r.toks
        for r in df.select("doc_id", ws_tokens("text").alias("toks")).collect()
    }
    assert expr_toks[0] == ["a", "b", "c"]
    assert expr_toks[1] == ["a", "b"]
    assert expr_toks[2] == ["a", "b\xa0"]  # NBSP is NOT whitespace here
    assert expr_toks[3] == ["a", "b"]
    assert expr_toks[4] == expr_toks[5] == expr_toks[6] == []
    assert expr_toks[7] == ["a", "b"]       # Java \s includes \x0B
    assert expr_toks[8] == ["a", "b"]
    # token_count agrees with the array sizes (no separate definition)
    counts = {
        r.doc_id: r.n
        for r in df.select("doc_id", token_count("text").alias("n")).collect()
    }
    assert counts == {d: len(t) for d, t in expr_toks.items()}
    # Python-UDF 1-gram form == the expression tokens on every edge doc
    udf_toks = {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id", _word_ngrams_expr("text", 1).alias("toks")
        ).collect()
    }
    assert udf_toks == expr_toks
    # DuckDB mirror (the documented oracle form) == the same tokens on
    # every doc WITHOUT \x0B; on the \x0B docs the mirrors diverge by
    # design — RE2's \s is [ \t\n\f\r] (no vertical tab), Java's and
    # Python-ASCII's include it.  The divergence is pinned here so it
    # can never drift silently (ws_tokens docstring documents it; the
    # synthetic corpus contains no \x0B).
    duck = {
        d: t
        for d, t in duckdb.sql(
            """
        SELECT doc_id,
               list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                           x -> x <> '') AS toks
        FROM pdf
        """
        ).fetchall()
    }
    vtab_docs = {7, 8}
    assert {d: t for d, t in duck.items() if d not in vtab_docs} == {
        d: t for d, t in expr_toks.items() if d not in vtab_docs
    }
    assert duck[7] == ["a\x0bb"]            # RE2: \x0B is NOT whitespace
    assert duck[8] == ["\x0ba", "b\x0b"]


def test_ws_tokens_property_matches_python_reference(spark):
    """Hypothesis: for random text over a whitespace-rich alphabet
    (ASCII spaces/tabs/newlines, NBSP, carriage returns, letters), the
    Spark expression form equals the Python reference tokenizer
    ``[x for x in re.split(r'\\s+', t, re.ASCII) if x]`` — the
    definition every mirror documents."""
    import re

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import ws_tokens

    ws_re = re.compile(r"\s+", re.ASCII)
    chars = st.sampled_from(list("ab \t\n\r\x0b\x0c\xa0\x85."))
    texts = st.lists(st.text(chars, max_size=12), min_size=1, max_size=8)

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts)
    def inner(ts):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(ts)), "text": ts})
        )
        got = {
            r.doc_id: r.toks
            for r in df.select(
                "doc_id", ws_tokens("text").alias("toks")
            ).collect()
        }
        want = {i: [x for x in ws_re.split(t) if x] for i, t in enumerate(ts)}
        assert got == want

    inner()


def test_char_entropy_matches_duckdb(spark):
    """Per-doc Shannon entropy: DuckDB's unnest-chars → group → sum
    mirror agrees at the 6 dp comparison precision on the whole test
    corpus (the lm_score float-comparison contract)."""
    import duckdb

    from dfsql_spark.operators.text import char_entropy

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r.doc_id: (r.entropy_bits, r.n_chars)
        for r in char_entropy(docs).collect()
    }
    want = {
        d: (e, n)
        for d, e, n in duckdb.sql(
            f"""
        WITH c AS (
          SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
          FROM '{SF_DIR}/documents.parquet',
               UNNEST(generate_series(1, length(text))) AS t(i)
        ), h AS (
          SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
          FROM c GROUP BY doc_id, ch
        ), n AS (
          SELECT doc_id, SUM(c) AS n FROM h GROUP BY doc_id
        )
        SELECT h.doc_id,
               ROUND(-SUM((c/n.n)*log2(c/n.n)), 6) AS e,
               CAST(ANY_VALUE(n.n) AS BIGINT) AS nc
        FROM h JOIN n USING (doc_id) GROUP BY h.doc_id
        """
        ).fetchall()
    }
    assert got == want


def test_char_entropy_handchecked(spark):
    import pandas as pd

    from dfsql_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4, 5], "text": ["aaaa", "ab", "abcd", "", None]}
        )
    )
    got = {r.doc_id: (r.entropy_bits, r.n_chars) for r in char_entropy(df).collect()}
    # empty/NULL text → NULL entropy (no distribution to measure),
    # matching compression_ratio's sibling policy; a 0.0 would be
    # indistinguishable from a genuinely degenerate single-char doc
    assert got == {
        1: (0.0, 4),
        2: (1.0, 2),
        3: (2.0, 4),
        4: (None, 0),
        5: (None, 0),
    }


def test_compression_ratio_properties(spark):
    """No SQL engine mirrors zlib, so the grade is by property:
    repetitive template text compresses far below natural prose,
    ratios are deterministic across runs, and empty/NULL text gets a
    NULL ratio (never a keep-filter-fooling 0)."""
    import pandas as pd

    from dfsql_spark.operators.text import compression_ratio

    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "wizards brew quirky potions of xylophone juice and every "
        "sentence keeps introducing new words to defeat the compressor"
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["spam ham " * 100, prose, "", None],
            }
        )
    )
    got = {r.doc_id: (r.compression_ratio, r.n_bytes) for r in compression_ratio(df).collect()}
    assert got[1][0] < 0.1 < got[2][0] < 1.0
    assert got[1][1] == 900 and got[2][1] == len(prose.encode())
    assert got[3] == (None, 0) and got[4] == (None, 0)
    again = {r.doc_id: (r.compression_ratio, r.n_bytes) for r in compression_ratio(df).collect()}
    assert got == again


def test_signal_ops_are_pure_maps(spark):
    """char_entropy and compression_ratio must stay zero-exchange
    per-row maps at any scale."""
    from dfsql_spark.operators.text import char_entropy, compression_ratio
    from dfsql_spark.plans.audit import plan_summary

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert plan_summary(char_entropy(docs)).n_exchanges == 0
    assert plan_summary(compression_ratio(docs)).n_exchanges == 0


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (operators/web.py)
# ---------------------------------------------------------------------------


def test_canonicalize_url_edge_cases(spark):
    """Hand-written cases pin every documented canonicalization rule."""
    import pandas as pd

    from dfsql_spark.operators.web import canonicalize_url

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/b?a=1&b=2"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com", "https://example.com/"),
        ("example.com/path/?gclid=1", "http://example.com/path"),
        ("https://user:pw@Example.com/x", "https://example.com/x"),
        ("http://example.com:8080/x/", "http://example.com:8080/x"),
        ("https://example.com/?ref&q=1", "https://example.com/?q=1"),
        ("http://example.com/a//b//", "http://example.com/a//b"),
        ("  http://example.com/x  ", "http://example.com/x"),
        # anchored tracking names must not eat longer legit names
        ("http://example.com/x?refresh=1", "http://example.com/x?refresh=1"),
        # no page identity -> NULL
        ("", None),
        ("/relative/only", None),
        (None, None),
    ]
    pdf = pd.DataFrame(
        {"i": range(len(cases)), "url": [c[0] for c in cases]}
    )
    got = {
        r.i: r.canonical_url
        for r in canonicalize_url(spark.createDataFrame(pdf)).collect()
    }
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def _messy_urls(n=400):
    """Deterministic messy-URL corpus exercising every rule at once."""
    import pandas as pd

    schemes = ["http://", "HTTPS://", ""]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/a/b", "/a//b/"]
    rows = []
    for i in range(n):
        userinfo = "User:pw@" if i % 11 == 0 else ""
        www = "WWW." if i % 2 == 0 else ""
        path = paths[i % 4] if i % 5 else f"/docs/{i % 7}/"
        queries = [
            "",
            "?utm_source=x&z=9&a=1",
            "?b=2&a=1",
            "?gclid=abc",
            "?ref",
            f"?a={i % 3}&utm_medium=m",
        ]
        url = (
            schemes[i % 3]
            + userinfo
            + f"{www}Host{i % 13}.Example.COM"
            + ports[i % 4]
            + path
            + queries[i % 6]
            + ("" if i % 2 else f"#sec-{i}")
        )
        rows.append((i, url))
    return pd.DataFrame(rows, columns=["i", "url"])


def test_canonicalize_url_matches_duckdb_mirror(spark, duck):
    """The Spark expression and an independent DuckDB spelling of the
    same documented rules agree on 400 messy URLs."""
    from dfsql_spark.operators.web import (
        DEFAULT_TRACKING_RE,
        URL_PARSE_RE,
        canonicalize_url,
    )

    pdf = _messy_urls()
    got = {
        r.i: r.canonical_url
        for r in canonicalize_url(spark.createDataFrame(pdf)).collect()
    }

    duck.register("urls_pd", pdf)
    re, track = URL_PARSE_RE, DEFAULT_TRACKING_RE
    want = dict(
        duck.sql(
            f"""
        WITH parts AS (
            SELECT i,
                   lower(regexp_extract(regexp_replace(url, '[ \t\n\r\f\x0B]+', '', 'g'), '{re}', 1)) AS raw_scheme,
                   regexp_extract(regexp_replace(url, '[ \t\n\r\f\x0B]+', '', 'g'), '{re}', 2) AS auth,
                   regexp_extract(regexp_replace(url, '[ \t\n\r\f\x0B]+', '', 'g'), '{re}', 3) AS rawpath,
                   regexp_extract(regexp_replace(url, '[ \t\n\r\f\x0B]+', '', 'g'), '{re}', 4) AS rawq
            FROM urls_pd
        ), step AS (
            SELECT i,
                   CASE WHEN raw_scheme = '' THEN 'http' ELSE raw_scheme END AS scheme,
                   lower(regexp_replace(auth, '^.*@', '')) AS host0,
                   rawpath, rawq
            FROM parts
        ), step2 AS (
            SELECT i, scheme,
                   regexp_replace(
                       CASE WHEN scheme = 'http' THEN regexp_replace(host0, '(:80)+$', '')
                            WHEN scheme = 'https' THEN regexp_replace(host0, '(:443)+$', '')
                            ELSE host0 END,
                       '^(www\\.)+', '') AS host,
                   CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                        ELSE regexp_replace(rawpath, '/+$', '') END AS path,
                   coalesce(array_to_string(
                       list_sort(list_filter(str_split(rawq, '&'),
                           x -> x <> '' AND NOT regexp_matches(x, '{track}'))),
                       '&'), CASE WHEN rawq IS NULL THEN NULL ELSE '' END) AS q
            FROM step
        )
        SELECT i,
               CASE WHEN host = '' THEN NULL
                    ELSE scheme || '://' || host || path ||
                         (CASE WHEN q = '' THEN '' ELSE '?' || q END)
               END AS canonical_url
        FROM step2
        """
        ).fetchall()
    )
    duck.unregister("urls_pd")
    assert got == want and len(got) == 400


def test_url_dedup_collapses_variants_keeps_min_id(spark):
    """Spelling variants of one page collapse to the min-id survivor;
    distinct pages stay distinct; identity-less rows are dropped."""
    import pandas as pd

    from dfsql_spark.operators.web import url_dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [10, 3, 7, 20, 21, 30],
            "url": [
                "http://www.example.com:80/a/?utm_source=x",
                "example.com/a",
                "HTTP://EXAMPLE.COM/a/#top",
                "https://example.com/a",   # different scheme -> different page
                "http://example.com/b",
                None,
            ],
        }
    )
    got = {
        r.canonical_url: (r.survivor_id, r.n_copies)
        for r in url_dedup(spark.createDataFrame(pdf)).collect()
    }
    assert got == {
        "http://example.com/a": (3, 3),
        "https://example.com/a": (20, 1),
        "http://example.com/b": (21, 1),
    }


def test_url_ops_plan_shape(spark):
    """canonicalize_url is a zero-exchange narrow map; url_dedup is a
    single hash-agg exchange; neither ever runs a Python worker."""
    import pandas as pd

    from dfsql_spark.operators.web import canonicalize_url, url_dedup
    from dfsql_spark.plans.audit import plan_summary

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "url": ["http://example.com/"]})
    )
    canon = plan_summary(canonicalize_url(df))
    dedup = plan_summary(url_dedup(df))
    assert canon.n_exchanges == 0
    assert dedup.n_exchanges == 1
    for s in (canon, dedup):
        assert "EvalPython" not in s.text  # neither Batch- nor Arrow-


def test_canonicalize_url_is_idempotent(spark):
    """A canonical URL re-canonicalizes to itself — the property that
    makes the form safe as a dedup key across pipeline re-runs."""
    from dfsql_spark.operators.web import canonicalize_url

    df = spark.createDataFrame(_messy_urls())
    once = canonicalize_url(df)
    twice = canonicalize_url(
        once.select("i", F.col("canonical_url").alias("url"))
    )
    a = {r.i: r.canonical_url for r in once.collect()}
    b = {r.i: r.canonical_url for r in twice.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Single-scan observability: threshold_sweep + filter_funnel (checks.py)
# ---------------------------------------------------------------------------


def test_threshold_sweep_hand_pinned(spark):
    """P/R/F1 per threshold on a hand-checked table, both directions,
    with NULL score/label rows excluded and NULL-denominator edges."""
    import pandas as pd

    from dfsql_spark.operators.checks import threshold_sweep

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "score": [0.9, 0.8, 0.7, 0.2, None, 0.5],
                "label": [True, False, True, True, True, None],
            }
        )
    )
    got = {
        r.threshold: (r.n_kept, r.precision, r.recall, r.f1)
        for r in threshold_sweep(df, "score", "label", [0.75, 0.6]).collect()
    }
    assert got[0.75][0] == 2 and got[0.75][1] == 0.5
    assert abs(got[0.75][2] - 1 / 3) < 1e-12 and abs(got[0.75][3] - 0.4) < 1e-12
    assert got[0.6] == (3, 2 / 3, 2 / 3, 2 / 3)

    # nothing kept -> precision/f1 NULL, recall 0
    (edge,) = threshold_sweep(df, "score", "label", [1.5]).collect()
    assert (edge.n_kept, edge.precision, edge.recall, edge.f1) == (0, None, 0.0, None)

    # keep_higher=False keeps low scores; the 0.5-score row has a
    # NULL label so it is excluded, leaving only 0.2 (a positive)
    (lo,) = threshold_sweep(
        df, "score", "label", [0.5], keep_higher=False
    ).collect()
    assert (lo.n_kept, lo.precision, lo.f1) == (1, 1.0, 0.5)


def test_threshold_sweep_matches_duckdb_mirror(docs, duck):
    """Sweep over documents (score=n_chars, deterministic label)
    agrees with a DuckDB cross-join spelling at 9 dp."""
    from dfsql_spark.operators.checks import threshold_sweep

    from pyspark.sql import functions as F

    ths = [0.0, 200.0, 500.0, 1000.0]
    labelled = docs.withColumn("label", (F.col("doc_id") % 3 == 0))
    got = {
        r.threshold: (r.n_kept, r.precision, r.recall, r.f1)
        for r in threshold_sweep(labelled, "n_chars", "label", ths).collect()
    }
    want = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            """
        WITH t(threshold) AS (VALUES (0.0), (200.0), (500.0), (1000.0)),
        base AS (
            SELECT n_chars AS score, (doc_id % 3 = 0) AS label
            FROM documents WHERE n_chars IS NOT NULL
        ), agg AS (
            SELECT threshold,
                   sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS n_kept,
                   sum(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END) AS tp,
                   sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos
            FROM base CROSS JOIN t GROUP BY threshold
        )
        SELECT threshold, n_kept,
               CASE WHEN n_kept > 0 THEN tp / n_kept END AS precision,
               CASE WHEN n_pos > 0 THEN tp / n_pos END AS recall,
               CASE WHEN n_kept > 0 AND n_pos > 0 AND tp > 0 THEN
                   2.0 * (tp / n_kept) * (tp / n_pos)
                       / ((tp / n_kept) + (tp / n_pos)) END AS f1
        FROM agg
        """
        ).fetchall()
    }
    assert set(got) == set(want)
    for t in got:
        for g, w in zip(got[t], want[t]):
            assert (g is None) == (w is None)
            if g is not None:
                assert abs(g - w) < 1e-9, (t, got[t], want[t])


def test_filter_funnel_hand_pinned_and_mirror(spark, docs, duck):
    """Cumulative stage semantics on a hand table (incl. NULL-fails)
    plus a DuckDB mirror over documents."""
    import pandas as pd

    from dfsql_spark.operators.checks import filter_funnel

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"a": list(range(1, 11)), "b": [1] * 9 + [None]})
    )
    rows = filter_funnel(
        df,
        [
            ("pos", F.col("a") > 3),
            ("even", F.col("a") % 2 == 0),
            ("big", F.col("a") >= 8),
            ("b_known", F.col("b") > 0),  # NULL b fails
        ],
    ).collect()
    got = [(r.stage_idx, r.stage, r.n_in, r.n_out, r.frac_of_prev) for r in rows]
    assert got == [
        (0, "pos", 10, 7, 0.7),
        (1, "even", 7, 4, 4 / 7),
        (2, "big", 4, 2, 0.5),
        (3, "b_known", 2, 1, 0.5),
    ]

    funnel = {
        r.stage: (r.n_in, r.n_out)
        for r in filter_funnel(
            docs,
            [
                ("len200", F.col("n_chars") >= 200),
                ("even_id", F.col("doc_id") % 2 == 0),
                ("len500", F.col("n_chars") >= 500),
            ],
        ).collect()
    }
    (want,) = duck.sql(
        """
        SELECT count(*),
               sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END),
               sum(CASE WHEN n_chars >= 200 AND doc_id % 2 = 0
                   THEN 1 ELSE 0 END),
               sum(CASE WHEN n_chars >= 200 AND doc_id % 2 = 0
                   AND n_chars >= 500 THEN 1 ELSE 0 END)
        FROM documents
        """
    ).fetchall()
    assert funnel == {
        "len200": (want[0], want[1]),
        "even_id": (want[1], want[2]),
        "len500": (want[2], want[3]),
    }


def test_sweep_and_funnel_are_single_scan(docs):
    """N thresholds / N stages cost ONE scan and ONE (single-partition
    agg) exchange — the whole point of the aggregate-composition form."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.checks import filter_funnel, threshold_sweep
    from dfsql_spark.plans.audit import plan_summary

    labelled = docs.withColumn("label", (F.col("doc_id") % 3 == 0))
    sweep = plan_summary(
        threshold_sweep(labelled, "n_chars", "label", [100.0, 200.0, 300.0])
    )
    funnel = plan_summary(
        filter_funnel(docs, [("a", F.col("n_chars") > 100), ("b", F.col("doc_id") % 2 == 0)])
    )
    for s in (sweep, funnel):
        assert s.n_scans == 1
        assert s.n_exchanges == 1
        assert "EvalPython" not in s.text


def test_blocklist_filter_hand_pinned_and_mirror(spark, docs, duck):
    """Token-normalized hit counting on hand rows, then a DuckDB
    spelling of the identical rules over documents."""
    import pandas as pd

    from dfsql_spark.operators.text import blocklist_filter

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "Spam! totally (SPAM) here",   # punctuation + case -> 2 hits
                    "ham and eggs",                 # clean
                    "spammy text",                  # substring must NOT hit
                    None,                           # NULL -> 0 hits, kept
                    "spam",                         # single bare hit
                ],
            }
        )
    )
    got = {
        r.doc_id: (r.n_blocklist_hits, r.keep_doc)
        for r in blocklist_filter(df, ["spam", "junk"]).collect()
    }
    assert got == {1: (2, False), 2: (0, True), 3: (0, True), 4: (0, True), 5: (1, False)}
    # max_hits loosens the rule
    loose = {
        r.doc_id: r.keep_doc
        for r in blocklist_filter(df, ["spam"], max_hits=1).collect()
    }
    assert loose[1] is False and loose[5] is True

    words = ["key", "fast", "merge"]
    got_docs = {
        r.doc_id: (r.n_blocklist_hits, r.keep_doc)
        for r in blocklist_filter(docs, words).collect()
    }
    want = dict(
        (r[0], (r[1], r[2]))
        for r in duck.sql(
            """
        SELECT doc_id,
               len(list_filter(
                   list_transform(
                       list_filter(regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                                   x -> x <> ''),
                       x -> regexp_replace(regexp_replace(x, '^[^a-z0-9]+', ''),
                                           '[^a-z0-9]+$', '')),
                   x -> x IN ('key', 'fast', 'merge'))) AS n_hits,
               len(list_filter(
                   list_transform(
                       list_filter(regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                                   x -> x <> ''),
                       x -> regexp_replace(regexp_replace(x, '^[^a-z0-9]+', ''),
                                           '[^a-z0-9]+$', '')),
                   x -> x IN ('key', 'fast', 'merge'))) = 0 AS keep_doc
        FROM documents
        """
        ).fetchall()
    )
    assert got_docs == want
    assert any(h > 0 for h, _ in got_docs.values())  # non-degenerate


def test_blocklist_filter_regexp_edge_parity(spark):
    """Optimization-round-16 semantics pin: blocklist_filter's hit
    counting equals the canonical token form (ws_tokens -> strip
    punctuation -> array_contains), rebuilt inline as the reference,
    on adversarial rows — punctuation-wrapped and inner-punctuation
    tokens, tokens that strip to empty, regex metacharacters in
    blocklist words, whitespace-bearing words (can never hit), the
    empty word (hits no-alphanumeric tokens), adjacent hits, tab/CR
    separators, and non-ASCII wrappers (stripped like punctuation).
    History: a single anchored-alternation regexp_count rewrite passed
    this pin but was REVERTED — it flipped the fused crawl gate's
    Filter into whole-stage codegen, whose per-conjunct generation
    lacks cross-conjunct subexpression elimination (2.7× gate
    regression; see blocklist_filter's inline comment).  The pin
    stays to guard the token semantics of any future rewrite."""
    import pandas as pd

    from dfsql_spark.operators.text import blocklist_filter, ws_tokens

    texts = [
        "Spam! totally ((SPAM)). spam",          # wrapped + adjacent hits
        "spam.x s.pam xspam spamx",              # inner punct / affixes: no hits
        "!!! ??? ..",                            # strip-to-empty tokens
        "a+b a+ +a+",                            # metachar word 'a+' hits '+a+'? no: strips to 'a'
        "w1\tw2\rw1\nw2",                        # tab/CR/newline separators
        "éspamé éham",            # é wrappers strip away
        None,
        "",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )

    def reference(frame, words):
        marker = F.array(*[F.lit(w.lower()) for w in sorted(set(words))])
        norm = F.transform(
            ws_tokens("text", lower=True),
            lambda t: F.regexp_replace(t, "^[^a-z0-9]+|[^a-z0-9]+$", ""),
        )
        hits = F.size(F.filter(norm, lambda t: F.array_contains(marker, t)))
        return frame.select(
            F.col("doc_id"),
            hits.alias("n_blocklist_hits"),
            (hits <= 0).alias("keep_doc"),
        )

    for words in (
        ["spam"],
        ["a+", "w1"],
        [""],                      # empty word: hits '!!!'-style tokens
        ["two words", "spam"],     # whitespace-bearing word never hits
        ["two words"],             # ALL words whitespace-bearing -> 0 hits
        ["éspamé"],      # non-ASCII word strips to nothing matchable
    ):
        got = sorted(map(tuple, blocklist_filter(df, words).collect()))
        want = sorted(map(tuple, reference(df, words).collect()))
        assert got == want, (words, got, want)
    # non-degenerate sanity on the first list
    got1 = {r.doc_id: r.n_blocklist_hits for r in blocklist_filter(df, ["spam"]).collect()}
    assert got1[0] == 3 and got1[1] == 0 and got1[5] == 1


def test_blocklist_filter_is_zero_shuffle_python_free(docs):
    from dfsql_spark.operators.text import blocklist_filter
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(blocklist_filter(docs, ["alpha", "beta"]))
    assert s.n_exchanges == 0
    assert "EvalPython" not in s.text


def test_c4_line_clean_hand_pinned_and_mirror(spark, duck):
    """Line rules (terminal punct, min words, javascript) on
    hand-written docs, then a DuckDB spelling over a 200-doc
    deterministic multiline corpus."""
    import pandas as pd

    from dfsql_spark.operators.text import c4_line_clean

    doc = (
        "This line stays here.\n"
        "too short.\n"                       # 2 words
        "no terminal punctuation at all\n"
        "Enable JavaScript to continue.\n"   # javascript rule
        'He said "stop right there!"\n'      # quote-terminal kept
        "   \n"
    )
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [doc, None, "x y z"]})
    )
    got = {r.doc_id: r for r in c4_line_clean(df).collect()}
    assert got[1].cleaned_text == (
        'This line stays here.\nHe said "stop right there!"'
    )
    assert (got[1].n_lines_in, got[1].n_lines_kept) == (7, 2)
    assert got[2].cleaned_text is None and got[2].n_lines_in == 0
    assert got[3].cleaned_text == "" and got[3].n_lines_kept == 0

    # deterministic multiline corpus, mirrored in DuckDB
    mk = lambda i: "\n".join(  # noqa: E731
        [
            f"Sentence number {i} unit {j} ends fine."
            if j % 3 == 0
            else (f"short {j}." if j % 3 == 1 else f"line {i} {j} no punct")
            for j in range(5)
        ]
    )
    pdf = pd.DataFrame({"doc_id": range(200), "text": [mk(i) for i in range(200)]})
    got2 = {
        r.doc_id: (r.n_lines_in, r.n_lines_kept, r.cleaned_text)
        for r in c4_line_clean(spark.createDataFrame(pdf)).collect()
    }
    duck.register("c4_pd", pdf)
    want = dict(
        (r[0], (r[1], r[2], r[3]))
        for r in duck.sql(
            r"""
        WITH split AS (
            SELECT doc_id, str_split(text, chr(10)) AS lines FROM c4_pd
        ), kept AS (
            SELECT doc_id, lines,
                   list_filter(lines, l ->
                       regexp_matches(trim(l), '[.!?"'']$')
                       AND len(list_filter(
                           regexp_split_to_array(trim(l), '\s+'),
                           x -> x <> '')) >= 3
                       AND NOT contains(lower(l), 'javascript')) AS k
            FROM split
        )
        SELECT doc_id, len(lines), len(k),
               coalesce(array_to_string(k, chr(10)), '')
        FROM kept
        """
        ).fetchall()
    )
    duck.unregister("c4_pd")
    assert got2 == want and len(got2) == 200


def test_c4_line_clean_is_zero_shuffle_python_free(docs):
    from dfsql_spark.operators.text import c4_line_clean
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(c4_line_clean(docs))
    assert s.n_exchanges == 0
    assert "EvalPython" not in s.text


def test_gopher_filters_hand_pinned_rules(spark):
    """Each Gopher rule isolated with loose other-params."""
    import pandas as pd

    from dfsql_spark.operators.text import gopher_filters

    base = dict(
        min_words=3, max_words=1000, min_mean_word_len=1.0,
        max_mean_word_len=50.0, max_symbol_ratio=0.1,
        max_bullet_frac=0.9, max_ellipsis_frac=0.3,
        min_alpha_word_frac=0.8, min_stopword_hits=0,
    )
    texts = {
        1: "the cat and dog have fun together.",        # clean
        2: "# # # # # # tag soup here",                 # symbol ratio
        3: "- one two three\n- four five six\n- seven eight nine",  # bullets
        4: "first line goes on...\nsecond line also ends...\nthird fine.",  # ellipsis
        5: "1 2 3 4 5 6 7 8 9 10",                      # no alpha words
        6: "zebra quartz vortex jumble pixel",          # no stopwords
        7: None,
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    df = spark.createDataFrame(pdf)

    keep = {r.doc_id: r.keep_doc for r in gopher_filters(df, **base).collect()}
    assert keep == {1: True, 2: False, 3: False, 4: False, 5: False, 6: True, 7: False}

    strict_stop = {
        r.doc_id: r.keep_doc
        for r in gopher_filters(df, **{**base, "min_stopword_hits": 2}).collect()
    }
    assert strict_stop[1] is True and strict_stop[6] is False

    rows = {r.doc_id: r for r in gopher_filters(df, **base).collect()}
    # NULL text: clean report (no size(NULL) = -1 artifacts)
    assert rows[7].bullet_line_frac == 0.0 and rows[7].mean_word_len is None
    assert rows[3].bullet_line_frac == 1.0
    assert abs(rows[4].ellipsis_line_frac - 2 / 3) < 1e-12
    assert rows[5].alpha_word_frac == 0.0
    assert rows[1].stopword_hits == 3  # distinct hits: the, and, have


def test_gopher_filters_matches_duckdb_mirror(spark, duck):
    """Default-parameter signals agree with an independent DuckDB
    spelling on a 300-doc corpus exercising every rule."""
    import pandas as pd

    from dfsql_spark.operators.text import gopher_filters

    def mk(i):
        extra = ["seven#", "..."] if i % 5 == 0 else ["seven", "words"]
        words = ["the", "be", "to", "alpha", "bravo", f"tok{i}"] + extra
        body = " ".join(words[j % len(words)] for j in range(10 + (i % 120)))
        lines = [body]
        if i % 3 == 0:
            lines.append("- a bullet line here")
        if i % 4 == 0:
            lines.append("this one trails off...")
        if i % 7 == 0:
            lines.append("12 34 56")
        return "\n".join(lines)

    pdf = pd.DataFrame({"doc_id": range(300), "text": [mk(i) for i in range(300)]})
    got = {
        r.doc_id: (
            r.n_words, round(r.mean_word_len, 10), round(r.symbol_ratio, 10),
            round(r.bullet_line_frac, 10), round(r.ellipsis_line_frac, 10),
            round(r.alpha_word_frac, 10), r.stopword_hits, r.keep_doc,
        )
        for r in gopher_filters(spark.createDataFrame(pdf)).collect()
    }
    duck.register("gopher_pd", pdf)
    want = dict(
        (r[0], (r[1], round(r[2], 10), round(r[3], 10), round(r[4], 10),
                round(r[5], 10), round(r[6], 10), r[7], r[8]))
        for r in duck.sql(
            r"""
        WITH base AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                               x -> x <> '') AS toks,
                   str_split(text, chr(10)) AS lines
            FROM gopher_pd
        ), sig AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   length(regexp_replace(text, '\s+', '', 'g'))
                       / len(toks) AS mwl,
                   (length(text) - length(regexp_replace(text, '#', '', 'g'))
                    + (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3.0)
                       / len(toks) AS sym,
                   len(list_filter(lines, l ->
                       regexp_matches(ltrim(l), '^([*•‣▪-]\s)')))
                       / len(lines) AS bullet,
                   len(list_filter(lines, l ->
                       regexp_matches(rtrim(l), '(\.\.\.|…)$')))
                       / len(lines) AS ell,
                   len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                       / len(toks) AS alpha,
                   len(list_filter(['the','be','to','of','and','that','have','with'],
                       w -> list_contains(list_transform(toks, x -> lower(x)), w)))
                       AS stops
            FROM base
        )
        SELECT doc_id, n_words, mwl, sym, bullet, ell, alpha, stops,
               coalesce(n_words >= 50 AND n_words <= 100000
                   AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1
                   AND bullet <= 0.9 AND ell <= 0.3
                   AND alpha >= 0.8 AND stops >= 2, false) AS keep_doc
        FROM sig
        """
        ).fetchall()
    )
    duck.unregister("gopher_pd")
    assert got == want and len(got) == 300
    kept = sum(1 for v in got.values() if v[-1])
    assert 0 < kept < 300  # both outcomes exercised


def test_gopher_filters_is_zero_shuffle_python_free(docs):
    from dfsql_spark.operators.text import gopher_filters
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(gopher_filters(docs))
    assert s.n_exchanges == 0
    assert "EvalPython" not in s.text


def test_gopher_line_token_signals_match_per_line_reference(spark):
    """Optimization-round-15 pin: the codegen'd regexp_count forms of
    the bullet/ellipsis/alpha/line-count signals must keep the exact
    per-line semantics of the original ``split + filter(rlike)``
    lambdas — including Java's default-mode ``$``-before-final-
    terminator quirk and split's kept trailing empties — checked
    against an independent pure-Python reference on an adversarial
    corpus (\\r and NEL/LS/PS line separators, bullets at EOL,
    "....", trailing-space/terminator permutations, \\x0b, unicode
    case edges)."""
    import itertools
    import random
    import re

    from dfsql_spark.operators.text import GOPHER_STOPWORDS, gopher_filters

    JAVA_WS = " \t\n\x0b\f\r"
    DOLLAR_TERMS = "\r\x85\u2028\u2029"  # the no-newline final terminators
    BULLETS = "*•‣▪-"

    def ref(text):
        t = text or ""
        toks = [x for x in re.split("[" + JAVA_WS + "]+", t) if x]
        lines = t.split("\n")

        def bullet(line):
            s = line.lstrip(" ")
            return len(s) >= 2 and s[0] in BULLETS and s[1] in JAVA_WS

        def ell(line):
            s = line.rstrip(" ")
            if s and s[-1] in DOLLAR_TERMS:
                s = s[:-1]
            return s.endswith("...") or s.endswith("…")

        def alpha(tok):
            return any("a" <= c <= "z" or "A" <= c <= "Z" for c in tok)

        n_words, n_lines = len(toks), len(lines)
        stops = len(set(GOPHER_STOPWORDS) & {w.lower() for w in toks})
        return (
            n_words,
            (sum(map(bullet, lines)) / n_lines) if n_lines else None,
            (sum(map(ell, lines)) / n_lines) if n_lines else None,
            (sum(map(alpha, toks)) / n_words) if n_words else None,
            stops,
        )

    random.seed(7)
    pieces = [
        "", " ", "\t", "\r", "\x0b", "\f", "-", "- ", "-\t", "-x",
        "* item", "• uni", "‣ tri", "▪ sq", "*nospace",
        "...", "....", ".....", "…", "… ", "...\r", "... \r",
        "...\r ", "... ", "ab1c", "123", "The", "THE", "the", "be",
        "WİTH", "İstanbul", "ΑΣ", "#", "a#b",
        "   - x", "\t- x", "end...", "end… ", "tail",
    ]
    seps = ["\n", " ", "\r\n", "\n\n", " \n", "\t", "", "\x85", "\u2028"]
    texts = [None, "", " ", "\n", "\r\n", "...", "…", "-", "- x"]
    for _ in range(800):
        texts.append(
            "".join(
                random.choice(pieces) + random.choice(seps)
                for _ in range(random.randint(1, 10))
            )
        )
    for a, b, c in itertools.product(
        ["", " ", "\r", "-", "- ", "...", "… ", "...\r"],
        ["", "\n", "\r\n", "\x85"],
        ["", "-", "- x", "...", "...  ", "… \r", "the be"],
    ):
        texts.append(a + b + c)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.n_words,
            r.bullet_line_frac,
            r.ellipsis_line_frac,
            r.alpha_word_frac,
            r.stopword_hits,
        )
        for r in gopher_filters(df).collect()
    }
    want = {i: ref(t) for i, t in enumerate(texts)}
    # NULL text reports 0.0 bullet frac by contract (coalesce to "")
    assert len(got) == len(want)
    mismatches = {
        i: (got[i], want[i]) for i in want if got[i] != want[i]
    }
    assert not mismatches, dict(itertools.islice(mismatches.items(), 5))


def test_duplicate_text_fractions_hand_pinned(spark):
    import pandas as pd

    from dfsql_spark.operators.text import duplicate_text_fractions

    text = "a b.\nx\nx\nx\n\nP1 long para\n\nP1 long para"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [text, None, "  \n "]})
    )
    got = {r.doc_id: r for r in duplicate_text_fractions(df).collect()}
    r = got[1]
    assert r.dup_line_frac == 0.5                    # 3 dup of 6 units
    assert abs(r.dup_line_char_frac - 14 / 31) < 1e-12
    assert abs(r.dup_para_frac - 1 / 3) < 1e-12
    assert abs(r.dup_para_char_frac - 12 / 34) < 1e-12
    for i in (2, 3):                                  # no units -> NULLs
        assert got[i].dup_line_frac is None and got[i].dup_para_frac is None


def test_duplicate_text_fractions_matches_duckdb_mirror(spark, duck):
    import pandas as pd

    from dfsql_spark.operators.text import duplicate_text_fractions

    def mk(i):
        lines = [f"unique line {i} {j}." for j in range(3)]
        lines += ["repeated banner line"] * (i % 4)
        body = "\n".join(lines)
        if i % 3 == 0:
            body += "\n\nsame paragraph\n\nsame paragraph"
        return body

    pdf = pd.DataFrame({"doc_id": range(150), "text": [mk(i) for i in range(150)]})
    got = {
        r.doc_id: tuple(
            None if v is None else round(v, 10)
            for v in (r.dup_line_frac, r.dup_line_char_frac,
                      r.dup_para_frac, r.dup_para_char_frac)
        )
        for r in duplicate_text_fractions(spark.createDataFrame(pdf)).collect()
    }
    duck.register("dupfrac_pd", pdf)
    want = dict(
        (r[0], tuple(None if v is None else round(v, 10) for v in r[1:]))
        for r in duck.sql(
            r"""
        WITH lu AS (
            SELECT doc_id,
                   unnest(list_filter(str_split(text, chr(10)),
                                      x -> regexp_matches(x, '\S'))) AS u
            FROM dupfrac_pd
        ), lc AS (
            SELECT doc_id, count(*) AS n, length(u) AS ln
            FROM lu GROUP BY doc_id, u
        ), lines AS (
            SELECT doc_id,
                   sum(n - 1) * 1.0 / sum(n) AS lf,
                   sum((n - 1) * ln) * 1.0 / sum(n * ln) AS lcf
            FROM lc GROUP BY doc_id
        ), pu AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\n{2,}'),
                                      x -> regexp_matches(x, '\S'))) AS u
            FROM dupfrac_pd
        ), pc AS (
            SELECT doc_id, count(*) AS n, length(u) AS ln
            FROM pu GROUP BY doc_id, u
        ), paras AS (
            SELECT doc_id,
                   sum(n - 1) * 1.0 / sum(n) AS pf,
                   sum((n - 1) * ln) * 1.0 / sum(n * ln) AS pcf
            FROM pc GROUP BY doc_id
        )
        SELECT d.doc_id, lf, lcf, pf, pcf
        FROM dupfrac_pd d
        LEFT JOIN lines USING (doc_id) LEFT JOIN paras USING (doc_id)
        """
        ).fetchall()
    )
    duck.unregister("dupfrac_pd")
    assert got == want and len(got) == 150


def test_duplicate_text_fractions_posexplode_matches_hof_reference(spark):
    """Optimization-round-16 pin: the posexplode + positional-kind +
    post-explode rlike form is value-identical to the round-15
    interpreted form (pre-explode ``filter(arr, u -> u.rlike('\\S'))``
    + ``transform`` struct tagging), rebuilt inline as the reference.
    Adversarial corpus: CR and CRLF line ends (units keep the \\r),
    blank and whitespace-only units between real ones, 3+ newline
    paragraph gaps, trailing newlines, NULL/empty/blank-only docs,
    vertical-tab-only units (\\x0B is \\s in Java — blank), NEL
    \\u0085 units (NOT \\s in Java's default rlike — non-blank), and
    a doc whose line and para splits coincide."""
    import pandas as pd

    from dfsql_spark.operators.text import duplicate_text_fractions

    texts = [
        "a\r\nb\r\na\r\n\r\nP\n\n\nP",          # CRLF lines; 3-newline para gap
        "x\n \nx\n\t\nx",                        # whitespace-only units between dups
        "one line only",                         # line == para split
        "tail\n\n\n",                            # trailing newline units (blank)
        None,
        "",
        " \n\x0b\n ",                            # all units blank (VT is Java \s)
        "\n",                        # NEL units are NON-blank in rlike
        "para A\n\npara A\n\npara B\nline B\nline B",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )

    def reference(frame):
        raw = F.coalesce(F.col("text"), F.lit(""))

        def tagged(kind, arr):
            return F.transform(
                F.filter(arr, lambda u: u.rlike(r"\S")),
                lambda u: F.struct(F.lit(kind).alias("k"), u.alias("u")),
            )

        units = F.concat(
            tagged("line", F.split(raw, "\n")),
            tagged("para", F.split(raw, r"\n{2,}")),
        )
        ex = frame.select(F.col("doc_id"), F.explode(units).alias("s")).select(
            "doc_id",
            F.col("s.k").alias("_k"),
            F.xxhash64("s.u").alias("_h"),
            F.length("s.u").alias("_ln"),
        )
        per_unit = ex.groupBy("doc_id", "_k", "_h").agg(
            F.count(F.lit(1)).alias("n"), F.first("_ln").alias("ln")
        )

        def kind_fracs(kind, frac, char_frac):
            k = F.col("_k") == kind
            n, ln = F.col("n"), F.col("ln")
            z = F.lit(0)
            return [
                (
                    F.sum(F.when(k, n - 1).otherwise(z))
                    / F.sum(F.when(k, n).otherwise(z))
                ).alias(frac),
                (
                    F.sum(F.when(k, (n - 1) * ln).otherwise(z))
                    / F.sum(F.when(k, n * ln).otherwise(z))
                ).alias(char_frac),
            ]

        wide = per_unit.groupBy("doc_id").agg(
            *kind_fracs("line", "dup_line_frac", "dup_line_char_frac"),
            *kind_fracs("para", "dup_para_frac", "dup_para_char_frac"),
        )
        return frame.select(F.col("doc_id")).join(wide, on="doc_id", how="left")

    def snap(frame):
        return {
            r.doc_id: tuple(
                None if v is None else round(v, 12)
                for v in (
                    r.dup_line_frac,
                    r.dup_line_char_frac,
                    r.dup_para_frac,
                    r.dup_para_char_frac,
                )
            )
            for r in frame.collect()
        }

    got, want = snap(duplicate_text_fractions(df)), snap(reference(df))
    assert got == want and len(got) == len(texts)
    # non-degenerate: dups and NULL-frac docs both present
    assert any(v[0] not in (None, 0.0) for v in got.values())
    assert any(v[0] is None for v in got.values())


def test_duplicate_text_fractions_plan_is_python_free(docs):
    from dfsql_spark.operators.text import duplicate_text_fractions
    from dfsql_spark.plans.audit import plan_summary

    out = duplicate_text_fractions(docs)
    assert out.count() == docs.count()  # one row per doc, always
    assert "EvalPython" not in plan_summary(out).text


def test_vector_norms_in_hand_and_mirror(spark, emb, duck):
    """Each failure mode isolated by hand, then the observed bad
    fraction on the embeddings table matches a DuckDB spelling."""
    from dfsql_spark.operators.checks import run_checks, vector_norms_in

    rows = [
        (1, [3.0, 4.0]),          # norm 5 - good
        (2, [0.0, 0.0]),          # zero norm
        (3, [float("nan"), 1.0]), # NaN component
        (4, None),                # NULL vector
        (5, [1.0]),               # wrong dim
        (6, [1e7, 0.0]),          # norm above hi
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    (r,) = run_checks(
        df, [vector_norms_in("v", lo=1e-6, hi=1e6, dim=2)]
    ).collect()
    assert r.passed is False and abs(r.observed - 5 / 6) < 1e-12

    (ok,) = run_checks(
        df.where("vec_id = 1"), [vector_norms_in("v", dim=2)]
    ).collect()
    assert ok.passed is True and ok.observed == 0.0

    dim = len(emb.select("embedding").first().embedding)
    (got,) = run_checks(
        emb, [vector_norms_in("embedding", lo=1e-6, hi=1e6, dim=dim)]
    ).collect()
    (want,) = duck.sql(
        f"""
        SELECT avg(CASE WHEN embedding IS NULL OR len(embedding) != {dim}
                        OR s IS NULL OR isnan(s)
                        OR sqrt(s) < 1e-6 OR sqrt(s) > 1e6
                   THEN 1.0 ELSE 0.0 END)
        FROM (SELECT embedding,
                     list_aggregate(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS s
              FROM embeddings)
        """
    ).fetchall()[0:1][0]
    assert abs(got.observed - want) < 1e-12


def test_script_fractions_hand_and_mirror(spark, duck):
    """Script detection on hand rows, then a DuckDB spelling of the
    identical block ranges on a mixed-script corpus."""
    import pandas as pd

    from dfsql_spark.operators.text import SCRIPT_BLOCKS, script_fractions

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": [
                    "hello world",
                    "Привет мир",
                    "你好世界 こんにちは",
                    "مرحبا بالعالم",
                    "hello Привет!!!",   # latin 5 vs cyrillic 6
                    "123 456 --- !!!",   # no letters
                ],
            }
        )
    )
    got = {r.doc_id: r for r in script_fractions(df).collect()}
    assert got[1].script == "latin" and got[1].frac_latin == 1.0
    assert got[2].script == "cyrillic" and got[2].frac_cyrillic == 1.0
    assert got[3].script == "cjk" and got[3].frac_cjk == 1.0
    assert got[4].script == "arabic"
    assert got[5].script == "cyrillic"
    assert abs(got[5].frac_latin - 5 / 11) < 1e-12
    assert got[6].script == "none" and got[6].frac_latin is None

    texts = ["word up", "Ещё текст тут", "漢字 and latin", "περί αὐτοῦ", ""]
    pdf = pd.DataFrame(
        {"doc_id": range(120), "text": [texts[i % 5] + f" x{i}" for i in range(120)]}
    )
    got2 = {
        r.doc_id: (
            tuple(round(v, 10) if v is not None else None
                  for v in (r.frac_latin, r.frac_cyrillic, r.frac_greek,
                            r.frac_arabic, r.frac_devanagari, r.frac_cjk)),
            r.script,
        )
        for r in script_fractions(spark.createDataFrame(pdf)).collect()
    }
    duck.register("script_pd", pdf)
    names = list(SCRIPT_BLOCKS)  # insertion order: latin..cjk
    cnt = {
        n: f"(length(text) - length(regexp_replace(text, '[{r}]', '', 'g')))"
        for n, r in SCRIPT_BLOCKS.items()
    }
    total = " + ".join(cnt.values())
    frac_cols = ", ".join(
        f"CASE WHEN ({total}) > 0 THEN {cnt[n]} * 1.0 / ({total}) END AS f_{n}"
        for n in names
    )
    best = "greatest(" + ", ".join(cnt.values()) + ")"
    dom = "CASE WHEN " + " WHEN ".join(
        f"{cnt[n]} = {best} AND {best} > 0 THEN '{n}'"
        for n in sorted(names)
    ) + " ELSE 'none' END"
    want = dict(
        (r[0], (tuple(round(v, 10) if v is not None else None for v in r[1:7]), r[7]))
        for r in duck.sql(
            f"SELECT doc_id, {frac_cols}, {dom} AS script FROM script_pd"
        ).fetchall()
    )
    duck.unregister("script_pd")
    assert got2 == want and len(got2) == 120


def test_script_fractions_is_zero_shuffle_python_free(docs):
    from dfsql_spark.operators.text import script_fractions
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(script_fractions(docs))
    assert s.n_exchanges == 0
    assert "EvalPython" not in s.text


def test_dsir_log_weights_ranks_target_like_docs_and_matches_duckdb(spark, duck):
    """Target-resembling raw docs outscore off-target docs, and every
    weight matches an independent DuckDB spelling of the full
    construction (grams -> md5 buckets -> smoothed LLR -> per-doc sum)."""
    import pandas as pd

    from dfsql_spark.operators.text import dsir_log_weights

    tgt_words = ["alpha", "beta", "gamma", "delta"]
    off_words = ["zonk", "quux", "blorp", "fizz"]

    def sent(words, i, m):
        return " ".join(words[(i + j) % len(words)] for j in range(m))

    target_pdf = pd.DataFrame(
        {"doc_id": range(40), "text": [sent(tgt_words, i, 12) for i in range(40)]}
    )
    raw_rows = []
    for i in range(120):
        kind = i % 3
        words = tgt_words if kind == 0 else (off_words if kind == 1 else None)
        if words is None:  # mixed
            t = sent(tgt_words, i, 6) + " " + sent(off_words, i, 6)
        else:
            t = sent(words, i, 12)
        raw_rows.append((i, t))
    raw_rows.append((120, ""))        # gram-free -> 0.0
    raw_rows.append((121, None))      # NULL -> 0.0
    raw_pdf = pd.DataFrame(raw_rows, columns=["doc_id", "text"])

    B, S = 512, 1.0
    got = {
        r.doc_id: (r.log_weight, r.n_grams)
        for r in dsir_log_weights(
            spark.createDataFrame(raw_pdf),
            spark.createDataFrame(target_pdf),
            buckets=B,
            smoothing=S,
        ).collect()
    }
    # ranking: target-like > mixed > off-target, degenerates at 0.0
    tgt_like = [got[i][0] for i in range(120) if i % 3 == 0]
    mixed = [got[i][0] for i in range(120) if i % 3 == 2]
    off = [got[i][0] for i in range(120) if i % 3 == 1]
    assert min(tgt_like) > max(mixed) and min(mixed) > max(off)
    assert got[120] == (0.0, 0) and got[121] == (0.0, 0)

    duck.register("dsir_raw", raw_pdf)
    duck.register("dsir_tgt", target_pdf)
    q = f"""
    WITH rt AS (
        SELECT doc_id, list_filter(regexp_split_to_array(coalesce(text, ''),
                                   '\\s+'), x -> x <> '') AS t
        FROM dsir_raw
    ), rg AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5('dsir:' ||
                   array_to_string(t[u.i : u.i + 1], ' ')), 1, 8) AS BIGINT)
                   % {B} AS INT) AS b
        FROM rt, unnest(range(1, len(t))) u(i) WHERE len(t) >= 2
    ), tt AS (
        SELECT doc_id, list_filter(regexp_split_to_array(coalesce(text, ''),
                                   '\\s+'), x -> x <> '') AS t
        FROM dsir_tgt
    ), tg AS (
        SELECT CAST(CAST('0x' || substr(md5('dsir:' ||
                   array_to_string(t[u.i : u.i + 1], ' ')), 1, 8) AS BIGINT)
                   % {B} AS INT) AS b
        FROM tt, unnest(range(1, len(t))) u(i) WHERE len(t) >= 2
    ), tc AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
       rc AS (SELECT b, count(*) AS cr FROM rg GROUP BY b),
       tot AS (SELECT (SELECT count(*) FROM tg) AS tt_n,
                      (SELECT count(*) FROM rg) AS tr_n),
       w AS (
        SELECT rc.b,
               ln((coalesce(ct, 0) + {S}) / (tt_n + {S} * {B}))
               - ln((cr + {S}) / (tr_n + {S} * {B})) AS w
        FROM rc LEFT JOIN tc USING (b), tot
    ), s AS (
        SELECT doc_id, sum(w) AS lw, count(*) AS ng
        FROM rg JOIN w USING (b) GROUP BY doc_id
    )
    SELECT r.doc_id, coalesce(lw, 0.0), coalesce(ng, 0)
    FROM dsir_raw r LEFT JOIN s USING (doc_id)
    """
    want = {r[0]: (r[1], r[2]) for r in duck.sql(q).fetchall()}
    duck.unregister("dsir_raw")
    duck.unregister("dsir_tgt")
    assert set(got) == set(want)
    for k in got:
        assert got[k][1] == want[k][1], k
        assert abs(got[k][0] - want[k][0]) < 1e-9, (k, got[k], want[k])


def test_remove_duplicate_lines_paragraph_granularity(spark):
    """sep='\\n\\n' turns the corpus line dedup into PARAGRAPH dedup
    (the RefinedWeb variant): a banner paragraph repeated across docs
    keeps its globally-first occurrence only, with documents
    reassembled on the same separator."""
    import pandas as pd

    from dfsql_spark.operators.dedup import remove_duplicate_lines

    banner = "subscribe to our newsletter\nfor more articles"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"unique first para one.\n\n{banner}",
                    f"{banner}\n\nunique second body.",
                    "no banner here at all.",
                ],
            }
        )
    )
    got = {
        r.doc_id: (r.text, r.n_lines, r.n_kept)
        for r in remove_duplicate_lines(
            docs, min_line_chars=1, sep="\n\n"
        ).collect()
    }
    # doc 1 holds the (doc_id, pos)-first banner occurrence
    assert got[1] == (f"unique first para one.\n\n{banner}", 2, 2)
    assert got[2] == ("unique second body.", 2, 1)
    assert got[3] == ("no banner here at all.", 1, 1)


def test_pair_metrics_hand_pinned_and_on_real_sketches(spark, docs):
    """Hand-checked P/R/F1 with orientation/repeat canonicalization,
    then the helper grades SimHash candidates against exact Jaccard
    truth on the corpus — metrics must be consistent and recall
    positive."""
    import pandas as pd

    from dfsql_spark.operators.dedup import (
        ngram_jaccard_pairs,
        pair_metrics,
        release_persists,
        simhash_pairs,
    )

    pred = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 2, 5], "id_b": [2, 1, 3, 6]})
    )  # canonical: {(1,2),(2,3),(5,6)}
    truth = spark.createDataFrame(
        pd.DataFrame({"id_a": [2, 3, 7], "id_b": [1, 2, 8]})
    )  # canonical: {(1,2),(2,3),(7,8)}
    (r,) = pair_metrics(pred, truth).collect()
    assert (r.n_pred, r.n_true, r.n_common) == (3, 3, 2)
    assert r.precision == r.recall == r.f1 == 2 / 3

    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    (e,) = pair_metrics(empty, truth).collect()
    assert (e.n_pred, e.precision, e.recall, e.f1) == (0, None, 0.0, None)

    try:
        truth_pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.6).select(
            "id_a", "id_b"
        )
        cand = simhash_pairs(docs, max_hamming=3).select("id_a", "id_b")
        (m,) = pair_metrics(cand, truth_pairs).collect()
        assert m.n_true > 0 and m.n_common <= min(m.n_pred, m.n_true)
        assert m.recall is not None and m.recall > 0
    finally:
        release_persists()


def test_time_rollup_matches_per_grain_groupbys_and_duckdb(spark, duck):
    """One-pass GROUPING SETS rollup equals per-grain GROUP BYs (and
    the DuckDB spelling), including a NULL-timestamp bucket."""
    import pytest

    from dfsql_spark.operators.rollup import time_rollup

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = ev.unionByName(
        ev.limit(1).select(
            "event_id", F.lit(None).cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
    )
    got = sorted(
        (r.grain, str(r.bucket_ts), r.event_type, r.n_events,
         round(r.total_value, 6))
        for r in time_rollup(ev, grains=("hour", "day")).collect()
    )
    # per-grain reference: two separate groupBys
    want = []
    for g in ("hour", "day"):
        want += [
            (g, str(r.b), r.event_type, r.n, round(r.t, 6))
            for r in ev.groupBy(
                F.date_trunc(g, "ts").alias("b"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
            .collect()
        ]
    assert got == sorted(want) and len(got) > 4
    assert any(r[1] == "None" for r in got)  # NULL-ts bucket labeled

    duck.register("ev_null", ev.toPandas())
    duck_rows = duck.sql(
        """
        SELECT CASE WHEN GROUPING(t_h) = 0 THEN 'hour' ELSE 'day' END,
               coalesce(t_h, t_d), event_type, count(*),
               round(sum(value), 6)
        FROM (SELECT date_trunc('hour', ts) t_h, date_trunc('day', ts) t_d,
                     event_type, value FROM ev_null)
        GROUP BY GROUPING SETS ((t_h, event_type), (t_d, event_type))
        """
    ).fetchall()
    duck.unregister("ev_null")
    want_duck = sorted((r[0], str(r[1]), r[2], r[3], r[4]) for r in duck_rows)
    assert got == want_duck

    with pytest.raises(ValueError):
        time_rollup(ev, grains=("fortnight",))


def test_time_rollup_is_single_scan_expand(spark):
    from dfsql_spark.operators.rollup import time_rollup
    from dfsql_spark.plans.audit import plan_summary

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = plan_summary(time_rollup(ev, grains=("hour", "day", "month")))
    assert s.n_scans == 1          # three grains, ONE scan
    assert s.n_exchanges == 1      # one combined aggregation shuffle
    assert "Expand" in s.text
    assert "EvalPython" not in s.text


def test_cohort_retention_hand_pinned_and_mirror(spark, duck):
    """Hand-built two-cohort retention, then the DuckDB spelling over
    the real events table at week grain."""
    import pandas as pd

    from dfsql_spark.operators.rollup import cohort_retention

    ev = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 3, 3],
            "ts": pd.to_datetime(
                [
                    "2024-01-01", "2024-01-08", "2024-01-22",  # u1: w0,w1,w3
                    "2024-01-01", "2024-01-01",                # u2: w0 twice
                    "2024-01-10", "2024-01-15",                # u3: w1 cohort, +w2
                ]
            ),
        }
    )
    got = {
        (str(r.cohort), r.period): r.n_users
        for r in cohort_retention(
            spark.createDataFrame(ev), grain="week"
        ).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", 0): 2,   # u1, u2
        ("2024-01-01 00:00:00", 1): 1,   # u1
        ("2024-01-01 00:00:00", 3): 1,   # u1
        ("2024-01-08 00:00:00", 0): 1,   # u3
        ("2024-01-08 00:00:00", 1): 1,   # u3
    }

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got2 = {
        (str(r.cohort), r.period): r.n_users
        for r in cohort_retention(events, grain="week").collect()
    }
    want = {
        (str(r[0]), r[1]): r[2]
        for r in duck.sql(
            """
        WITH acts AS (
            SELECT user_id AS u, CAST(date_trunc('week', ts) AS TIMESTAMP) AS b
            FROM events WHERE ts IS NOT NULL
        ), first AS (
            SELECT u, min(b) AS cohort FROM acts GROUP BY u
        )
        SELECT cohort,
               CAST(date_diff('day', cohort, b) / 7 AS INT) AS period,
               count(DISTINCT a.u) AS n_users
        FROM acts a JOIN first USING (u)
        GROUP BY 1, 2
        """
        ).fetchall()
    }
    assert got2 == want and len(got2) >= 4
    # period-0 row per cohort, counts never grow over periods' union
    cohorts = {c for c, _ in got2}
    assert all((c, 0) in got2 for c in cohorts)


def test_event_funnel_hand_pinned_and_mirror(spark, duck):
    """Ordered-funnel semantics by hand (order matters, within
    window), then the DuckDB chain spelling over the events table."""
    import pandas as pd

    from dfsql_spark.operators.rollup import event_funnel

    ev = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 3, 3, 4],
            "event_type": ["view", "click", "buy",      # u1 full funnel
                           "click", "view",             # u2 wrong order
                           "view", "click",             # u3 two steps
                           "view"],                     # u4 one step
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-03",
                 "2024-01-01", "2024-01-02",
                 "2024-01-01", "2024-01-09",
                 "2024-01-01"]
            ),
        }
    )
    got = {
        r.step: (r.n_users, r.conversion)
        for r in event_funnel(
            spark.createDataFrame(ev), ["view", "click", "buy"]
        ).collect()
    }
    assert got == {
        "view": (4, 1.0), "click": (2, 0.5), "buy": (1, 0.25)
    }
    # within-window: u3's click is 8 days after the view -> drops
    tight = {
        r.step: r.n_users
        for r in event_funnel(
            spark.createDataFrame(ev), ["view", "click"], within="7 days"
        ).collect()
    }
    assert tight == {"view": 4, "click": 1}

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got2 = {
        r.step: r.n_users
        for r in event_funnel(
            events, ["signup", "view", "purchase"]
        ).collect()
    }
    want = {
        r[0]: r[1]
        for r in duck.sql(
            """
        WITH s1 AS (
            SELECT user_id u, min(ts) t FROM events
            WHERE event_type = 'signup' GROUP BY 1
        ), s2 AS (
            SELECT e.user_id u, min(e.ts) t FROM events e JOIN s1
              ON e.user_id = s1.u AND e.ts > s1.t
            WHERE e.event_type = 'view' GROUP BY 1
        ), s3 AS (
            SELECT e.user_id u, min(e.ts) t FROM events e JOIN s2
              ON e.user_id = s2.u AND e.ts > s2.t
            WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT 'signup', count(*) FROM s1
        UNION ALL SELECT 'view', count(*) FROM s2
        UNION ALL SELECT 'purchase', count(*) FROM s3
        """
        ).fetchall()
    }
    assert got2 == want
    assert got2["signup"] >= got2["view"] >= got2["purchase"] > 0


def test_corpus_report_matches_duckdb_and_is_single_pass(spark, docs, duck):
    """Data card: every column matches a DuckDB recomputation on the
    documents table (int-exact; avg is one division), NULL/empty docs
    count into n_empty, and the plan is one grouped aggregation."""
    import pandas as pd

    from dfsql_spark.operators.checks import corpus_report
    from dfsql_spark.plans.audit import plan_summary

    got = {
        r.stratum: (
            r.n_docs, r.n_empty, r.n_chars_total, r.n_tokens_total,
            r.n_tokens_min, r.n_tokens_max, r.n_tokens_avg,
        )
        for r in corpus_report(docs).collect()
    }
    want = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            """
        WITH t AS (
            SELECT source,
                   CAST(len(list_filter(regexp_split_to_array(
                        coalesce(text, ''), '\\s+'), x -> x <> ''))
                        AS BIGINT) AS tok,
                   CAST(length(coalesce(text, '')) AS BIGINT) AS ch
            FROM documents
        )
        SELECT source, CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN tok = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(ch) AS BIGINT), CAST(sum(tok) AS BIGINT),
               CAST(min(tok) AS INT), CAST(max(tok) AS INT),
               CAST(sum(tok) AS DOUBLE) / count(*)
        FROM t GROUP BY source
        """
        ).fetchall()
    }
    assert got == want and len(got) > 1

    # NULL and whitespace-only docs land in n_empty
    weird = spark.createDataFrame(
        pd.DataFrame({"source": ["x", "x", "x"], "text": [None, "   ", "one two"]})
    )
    r = corpus_report(weird).collect()[0]
    assert (r.n_docs, r.n_empty, r.n_tokens_total) == (3, 2, 2)

    s = plan_summary(corpus_report(docs))
    assert s.n_exchanges <= 1, s.text  # one two-phase grouped agg
    assert "EvalPython" not in s.text


def test_split_leakage_report_hand_pinned_and_mirror(spark, duck):
    """Leakage audit: order-normalized split pairs, cross_split flag,
    ids missing a split dropped — hand-pinned and DuckDB-mirrored."""
    import pandas as pd

    from dfsql_spark.operators.checks import split_leakage_report

    assign = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5], "split": ["train", "val", "train", "test", "train"]}
    )
    prs = pd.DataFrame(
        {"id_a": [1, 2, 1, 4, 9], "id_b": [3, 5, 2, 5, 1]}
    )  # train-train, val-train, train-val, test-train, (9 unknown -> dropped)
    got = {
        (r.split_lo, r.split_hi): (r.cross_split, r.n_pairs)
        for r in split_leakage_report(
            spark.createDataFrame(assign), spark.createDataFrame(prs)
        ).collect()
    }
    assert got == {
        ("train", "train"): (False, 1),
        ("train", "val"): (True, 2),
        ("test", "train"): (True, 1),
    }
    duck.register("slr_assign", assign)
    duck.register("slr_pairs", prs)
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in duck.sql(
            """
        SELECT LEAST(a.split, b.split) AS lo, GREATEST(a.split, b.split) AS hi,
               LEAST(a.split, b.split) <> GREATEST(a.split, b.split) AS x,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM slr_pairs p
        JOIN slr_assign a ON p.id_a = a.doc_id
        JOIN slr_assign b ON p.id_b = b.doc_id
        GROUP BY 1, 2, 3
        """
        ).fetchall()
    }
    duck.unregister("slr_assign")
    duck.unregister("slr_pairs")
    assert got == want


def test_split_leakage_composes_with_split_and_minhash(spark, docs):
    """The intended composition: deterministic_split assigns splits,
    minhash_lsh_pairs finds near-dup pairs, the report classifies
    every pair exactly once — and exact-duplicate pairs (same text
    -> same md5 bucket -> same split, by construction of the
    content-addressed split) never show up cross-split."""
    from dfsql_spark.operators.checks import split_leakage_report
    from dfsql_spark.operators.dedup import minhash_lsh_pairs
    from dfsql_spark.operators.text import deterministic_split

    split = deterministic_split(docs)
    pairs = minhash_lsh_pairs(docs, verify_threshold=0.5).select("id_a", "id_b")
    rep = split_leakage_report(split, pairs).collect()
    total = sum(r.n_pairs for r in rep)
    assert total == pairs.count()  # every pair classified exactly once

    # exact-duplicate pairs must be same-split: join pair ids back to
    # text and check any identical-text pair sits in a non-cross row
    texted = (
        pairs.join(docs.selectExpr("doc_id AS id_a", "text AS ta"), "id_a")
        .join(docs.selectExpr("doc_id AS id_b", "text AS tb"), "id_b")
        .filter(F.col("ta") == F.col("tb"))
        .select("id_a", "id_b")
    )
    if texted.count() > 0:
        rep_exact = split_leakage_report(split, texted).collect()
        assert all(not r.cross_split for r in rep_exact), rep_exact


def test_select_token_budget_hand_pinned_and_mirror(spark, docs, duck):
    """Token-budget selection: distinct-priority docs select exactly
    top-down until the budget binds (each doc its own bin at high
    `bins`), the boundary-bin fractional keep matches the md5
    arithmetic computed independently, and the full histogram
    construction is reproduced by a DuckDB mirror on documents."""
    import hashlib

    import pandas as pd

    from dfsql_spark.operators.text import select_token_budget

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "priority": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "n_tok": [10] * 6,
            "text": [f"budget doc {i}" for i in range(6)],
        }
    )
    sdf = spark.createDataFrame(pdf)
    # budget 30 -> exactly the top three priorities, whole bins only
    got = sorted(
        r.doc_id
        for r in select_token_budget(
            sdf, 30, priority_col="priority", token_col="n_tok"
        ).collect()
    )
    assert got == [3, 4, 5]
    # budget 35 -> top three whole + priority-3 doc at frac 0.5,
    # kept iff its salted bucket < 5000 (recomputed independently)
    frac_kept = (
        int(hashlib.md5(b"budget:" + b"budget doc 2").hexdigest()[:8], 16) % 10000
        < 0.5 * 10000
    )
    got35 = sorted(
        r.doc_id
        for r in select_token_budget(
            sdf, 35, priority_col="priority", token_col="n_tok"
        ).collect()
    )
    assert got35 == ([2, 3, 4, 5] if frac_kept else [3, 4, 5])

    # full-construction DuckDB mirror on the documents table:
    # priority = n_chars, token count = the shared ws tokenizer
    budget = 5000
    got_docs = sorted(
        r.doc_id
        for r in select_token_budget(
            docs.select("doc_id", "n_chars", "text"),
            budget,
            priority_col="n_chars",
            bins=50,
        ).collect()
    )
    want = sorted(
        r[0]
        for r in duck.sql(
            f"""
        WITH base AS (
            SELECT doc_id, text, CAST(n_chars AS DOUBLE) AS p,
                   CAST(len(list_filter(regexp_split_to_array(
                        coalesce(text, ''), '\\s+'), x -> x <> ''))
                        AS BIGINT) AS tok
            FROM documents
            WHERE n_chars IS NOT NULL
        ), s AS (
            SELECT min(p) AS lo, max(p) AS hi FROM base
        ), binned AS (
            SELECT doc_id, text, tok,
                   LEAST(49, CAST(FLOOR((p - lo) / ((hi - lo) / 50))
                                  AS INT)) AS b
            FROM base, s
        ), bm AS (
            SELECT b, SUM(tok) AS m FROM binned GROUP BY b
        ), walk AS (
            SELECT b, m,
                   COALESCE(SUM(m) OVER (ORDER BY b DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS above
            FROM bm
        ), rules AS (
            SELECT b,
                   CASE WHEN above + m <= {budget} THEN 1.0
                        WHEN above < {budget}
                            THEN CAST({budget} - above AS DOUBLE) / m
                        ELSE 0.0 END AS keep
            FROM walk
        )
        SELECT doc_id FROM binned JOIN rules USING (b)
        WHERE keep >= 1.0
           OR CAST('0x' || substr(md5('budget:' || text), 1, 8) AS BIGINT)
              % 10000 < keep * 10000
        """
        ).fetchall()
    )
    assert got_docs == want and 0 < len(got_docs) < docs.count()

    # a NULL-text row in a FULLY-kept bin must survive (full bins
    # never consult the content hash — NULL < x is NULL, not False)
    null_text = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1], "priority": [2.0, 1.0],
             "n_tok": [10, 10], "text": ["some text", None]}
        )
    )
    kept_ids = sorted(
        r.doc_id
        for r in select_token_budget(
            null_text, 20, priority_col="priority", token_col="n_tok"
        ).collect()
    )
    assert kept_ids == [0, 1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget_tokens"):
        select_token_budget(sdf, 0, priority_col="priority", token_col="n_tok")


def test_select_token_budget_edge_cases(spark):
    """Round-10 review regressions, pinned: NaN priorities drop
    instead of poisoning max() (Spark orders NaN above everything);
    zero-mass bins keep whole only while the budget is still open
    (the DuckDB-mirror window rule — below the boundary they drop);
    a NULL-text row in the BOUNDARY bin samples out (documented); and
    a frame with no text column works when only whole bins keep."""
    import math

    import pandas as pd

    from dfsql_spark.operators.text import select_token_budget

    # NaN priority: must not collapse the binning — the two real rows
    # still select top-down exactly
    nan_pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "priority": [5.0, 1.0, math.nan],
            "n_tok": [10, 10, 10],
            "text": ["hi pri", "lo pri", "nan pri"],
        }
    )
    got = sorted(
        r.doc_id
        for r in select_token_budget(
            spark.createDataFrame(nan_pdf), 10, priority_col="priority",
            token_col="n_tok",
        ).collect()
    )
    assert got == [0]

    # zero-mass bins: kept while the budget is open, dropped below
    # the boundary (priority 4 zero-token doc keeps; priority 1
    # zero-token doc is past the boundary and drops)
    zm = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "priority": [4.0, 3.0, 2.0, 1.0],
            "n_tok": [0, 10, 20, 0],
            "text": ["empty hi", "full bin", "boundary bin", "empty lo"],
        }
    )
    out = {
        r.doc_id
        for r in select_token_budget(
            spark.createDataFrame(zm), 15, priority_col="priority",
            token_col="n_tok",
        ).collect()
    }
    assert 0 in out and 1 in out and 3 not in out
    # doc 2 is the boundary bin at frac 0.25 — hash decides; either
    # way it never brings doc 3 with it

    # NULL text in the boundary bin samples out (content-addressing
    # needs content); in a whole-kept bin it stays (pinned elsewhere)
    nt = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "priority": [2.0, 1.0],
            "n_tok": [10, 10],
            "text": ["has text", None],
        }
    )
    out_nt = sorted(
        r.doc_id
        for r in select_token_budget(
            spark.createDataFrame(nt), 15, priority_col="priority",
            token_col="n_tok",
        ).collect()
    )
    assert out_nt == [0]

    # no text column at all: fine while every kept bin keeps whole
    no_text = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "priority": [2.0, 1.0], "n_tok": [5, 5]})
    )
    kept = select_token_budget(
        no_text, 100, priority_col="priority", token_col="n_tok"
    )
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1]


def test_select_token_budget_plan_no_global_sort(docs):
    """Scale pin: the selection must NOT globally sort or window the
    corpus — two scans (histogram + filtered output), the keep rules
    a literal broadcast frame, no Python workers."""
    from dfsql_spark.operators.text import select_token_budget
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(
        select_token_budget(
            docs.select("doc_id", "n_chars", "text"),
            5000,
            priority_col="n_chars",
            bins=50,
        )
    )
    assert s.n_sortmerge_joins == 0, s.text
    assert s.n_broadcast_joins >= 1, s.text
    assert "Window" not in s.text, s.text
    # the output plan reads the corpus once (the cached fixture's
    # formatted plan also prints the InMemoryRelation's inner scan,
    # hence <= 2); the histogram passes ran eagerly at construction
    # (bounded collects), so they cannot appear here at all
    assert s.n_scans <= 2, s.text
    assert "EvalPython" not in s.text


def test_upsample_mix_hand_pinned_and_mirror(spark, docs, duck):
    """Repeat-factor mixing: integer factors land exactly (every row
    of a scarce stratum repeats floor(f) times), the fractional extra
    copy is content-addressed, strata outside the target drop, and
    the whole construction is reproduced row-for-row by a DuckDB
    mirror on the documents table."""
    import pandas as pd

    from dfsql_spark.operators.text import upsample_mix

    pdf = pd.DataFrame(
        {
            "doc_id": range(9),
            "source": ["a"] * 4 + ["b"] * 2 + ["c"] * 3,
            "text": [f"doc number {i} text" for i in range(9)],
        }
    )
    sdf = spark.createDataFrame(pdf)
    # total 8 at 50/50 -> d = 4,4 -> f_a = 1.0, f_b = 2.0: exact copies
    out = upsample_mix(
        sdf, {"a": 0.5, "b": 0.5}, total=8
    ).select("doc_id", "source", "copy_idx")
    rows = sorted((r.doc_id, r.copy_idx) for r in out.collect())
    assert rows == sorted(
        [(i, 1) for i in range(4)] + [(i, c) for i in (4, 5) for c in (1, 2)]
    )
    assert out.filter(F.col("source") == "c").count() == 0

    # fractional factors on the real documents table vs DuckDB —
    # identical normalization/arithmetic, identical md5 keep decision
    docs_df = docs.select("doc_id", "source", "text")
    target = {"src0": 0.4, "src1": 0.6}
    total = 77
    got = sorted(
        (r.doc_id, r.copy_idx)
        for r in upsample_mix(docs_df, target, total=total).collect()
    )
    psum = sum(v for _, v in sorted(target.items()))
    shares = {k: v / psum for k, v in target.items()}
    want = sorted(
        duck.sql(
            f"""
        WITH c AS (
            SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents
            WHERE source IN ('src0', 'src1') GROUP BY source
        ), f AS (
            SELECT source,
                   (CASE source WHEN 'src0' THEN {shares['src0']!r}
                                WHEN 'src1' THEN {shares['src1']!r} END)
                       * {float(total)!r} / n AS f
            FROM c
        ), rows_n AS (
            SELECT d.doc_id,
                   CAST(FLOOR(f.f) AS BIGINT)
                   + CASE WHEN CAST('0x' || substr(md5('upmix:' || d.text),
                            1, 8) AS BIGINT) % 10000
                          < (f.f - FLOOR(f.f)) * 10000
                     THEN 1 ELSE 0 END AS n_copies
            FROM documents d JOIN f USING (source)
        )
        SELECT doc_id, u.i AS copy_idx
        FROM rows_n, unnest(range(1, n_copies + 1)) u(i)
        WHERE n_copies >= 1
        """
        ).fetchall()
    )
    assert got == want and len(got) > 0
    # realized total ≈ target (whole copies exact; the fractional
    # extras are content-addressed, so the deviation is hash luck
    # over ~50 rows — bound it loosely, the mirror is the real check)
    assert abs(len(got) - total) <= 12

    import pytest as _pytest

    from dfsql_spark.operators.text import upsample_mix as um

    with _pytest.raises(ValueError, match="max_repeat"):
        um(sdf, {"b": 1.0}, total=2000)
    with _pytest.raises(ValueError, match="at least one"):
        um(sdf, {})
    # typo'd / absent target stratum must raise, not silently skew
    # the output mix (round-10 advisor find)
    with _pytest.raises(ValueError, match=r"\['zz'\] have no rows"):
        um(sdf, {"a": 0.5, "zz": 0.5}, total=8)


def test_upsample_mix_fuzz_vs_bruteforce_reference(spark):
    """Seeded fuzz: on random corpora/targets/totals the materialized
    mix equals a direct python implementation of the spec (normalize
    shares, f = share*T/n, floor(f) whole copies + md5-fractional
    extra), row for row including copy_idx."""
    import hashlib
    import random

    import pandas as pd

    from dfsql_spark.operators.text import upsample_mix

    rng = random.Random(101)
    for trial in range(5):
        strata = [f"s{i}" for i in range(rng.randint(2, 5))]
        rows = [
            (i, rng.choice(strata), f"fuzz doc {trial} {i}")
            for i in range(rng.randint(10, 50))
        ]
        pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
        tgt_strata = rng.sample(strata, k=rng.randint(1, len(strata)))
        target = {s: rng.uniform(0.2, 2.0) for s in tgt_strata}
        total = rng.randint(5, 60)

        # python reference
        psum = sum(v for _, v in sorted(target.items()))
        n_by = pdf.groupby("source").size().to_dict()
        want = []
        skip = False
        for _, r in pdf.iterrows():
            s = r["source"]
            if s not in target or s not in n_by:
                continue
            f = (target[s] / psum) * float(total) / float(n_by[s])
            if f > 100.0:
                skip = True
                break
            base = int(f // 1)
            frac = f - base
            b = int(hashlib.md5(("upmix:" + r["text"]).encode()).hexdigest()[:8], 16) % 10000
            n = base + (1 if b < frac * 10000 else 0)
            want += [(r["doc_id"], c) for c in range(1, n + 1)]
        if skip:
            continue
        absent = sorted(set(target) - set(n_by))
        if absent:
            # requested stratum with zero rows: must raise, not
            # silently skew the mix (round-10 advisor find)
            import pytest as _pytest

            with _pytest.raises(ValueError, match="no rows in df"):
                upsample_mix(
                    spark.createDataFrame(pdf), target, total=total
                ).collect()
            continue
        got = sorted(
            (r.doc_id, r.copy_idx)
            for r in upsample_mix(
                spark.createDataFrame(pdf), target, total=total
            ).collect()
        )
        assert got == sorted(want), (trial, target, total, got, want)


def test_upsample_mix_plan_is_broadcast_explode(docs):
    """Scale pin: factors re-embed as a literal broadcast frame (no
    sort-merge join, no corpus shuffle), the copy fan-out is a
    codegen explode, and no Python workers appear."""
    from dfsql_spark.operators.text import upsample_mix
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(
        upsample_mix(docs.select("doc_id", "source", "text"), {"src0": 0.5, "src1": 0.5})
    )
    assert s.n_sortmerge_joins == 0, s.text
    assert s.n_broadcast_joins >= 1, s.text
    assert s.n_exchanges <= 1, s.text  # broadcast build only, no data shuffle
    assert "Generate" in s.text, s.text  # the explode
    assert "EvalPython" not in s.text


def test_cosine_arrow_matches_expression_cosine(emb):
    """The round-10 Arrow scoring path must agree with the pure-JVM
    expression cosine to accumulation-order ulp on every candidate
    pair — the guarantee that use_arrow only changes the physical
    plan, never the semantics (zero-vector NaN behavior included)."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.similarity import cosine, cosine_arrow

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, (F.col("id_a") % 7 == 0) & (F.col("id_b") == F.col("id_a") + 1))
    both = pairs.select(
        "id_a",
        cosine("va", "vb").alias("c_expr"),
        cosine_arrow("va", "vb").alias("c_arrow"),
    ).collect()
    assert both
    for r in both:
        assert abs(r.c_expr - r.c_arrow) < 1e-12, (r.id_a, r.c_expr, r.c_arrow)

    # zero vectors: BOTH paths yield NULL (expression: Spark non-ANSI
    # x/0; Arrow: NaN masked to NULL at the boundary — a raw NaN
    # would wrongly PASS >= filters, since Spark orders NaN above
    # every number), so every downstream threshold drops the pair
    # identically on either path
    spark = emb.sparkSession
    z = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 2.0])], "i long, va array<double>, vb array<double>"
    )
    rz = z.select(
        cosine("va", "vb").alias("c_expr"), cosine_arrow("va", "vb").alias("c_arrow")
    ).collect()[0]
    assert rz.c_expr is None and rz.c_arrow is None
    kept = z.select(
        (cosine("va", "vb") >= F.lit(-2.0)).alias("ke"),
        (cosine_arrow("va", "vb") >= F.lit(-2.0)).alias("ka"),
    ).collect()[0]
    assert not kept.ke and not kept.ka  # both fail ANY threshold

    # NULL vectors and length-mismatched pairs: NULL on both paths
    # (the Arrow path must not crash the batch — round-10 review find)
    deg = spark.createDataFrame(
        [
            (1, None, [1.0, 2.0]),
            (2, [1.0], [1.0, 2.0]),
            (3, [1.0, 0.0], [1.0, 0.0]),  # healthy row in the same batch
        ],
        "i long, va array<double>, vb array<double>",
    ).coalesce(1)
    rows = {
        r.i: (r.ce, r.ca)
        for r in deg.select(
            "i",
            cosine("va", "vb").alias("ce"),
            cosine_arrow("va", "vb").alias("ca"),
        ).collect()
    }
    assert rows[1] == (None, None)
    assert rows[2] == (None, None)
    assert abs(rows[3][0] - 1.0) < 1e-12 and abs(rows[3][1] - 1.0) < 1e-12

    # NaN-COMPONENT vectors (round-10 advisor find): before the fix
    # the expression path returned a raw NaN cos_sim, which Spark's
    # comparison semantics place ABOVE every number — so
    # `cos_sim >= threshold` KEPT the pair on the expression plan
    # while the Arrow plan dropped it.  Both paths must now yield
    # NULL and drop the pair identically.
    nanrow = spark.createDataFrame(
        [
            (1, [float("nan"), 1.0], [1.0, 2.0]),
            (2, [1.0, 2.0], [0.5, float("nan")]),
            (3, [3.0, 4.0], [3.0, 4.0]),  # healthy row in the same batch
        ],
        "i long, va array<double>, vb array<double>",
    ).coalesce(1)
    got = {
        r.i: (r.ce, r.ca, r.ke, r.ka)
        for r in nanrow.select(
            "i",
            cosine("va", "vb").alias("ce"),
            cosine_arrow("va", "vb").alias("ca"),
            (cosine("va", "vb") >= F.lit(0.0)).alias("ke"),
            (cosine_arrow("va", "vb") >= F.lit(0.0)).alias("ka"),
        ).collect()
    }
    assert got[1][:2] == (None, None), got[1]
    assert got[2][:2] == (None, None), got[2]
    assert (got[1][2], got[1][3]) == (None, None)  # NULL >= t -> NULL: dropped
    assert (got[2][2], got[2][3]) == (None, None)
    assert abs(got[3][0] - 1.0) < 1e-12 and abs(got[3][1] - 1.0) < 1e-12
    assert got[3][2] and got[3][3]


def test_cluster_balanced_sample_rates_keeps_and_mirror(emb, duck):
    """Topic-balanced sampling over KMeans cells: the closed-form rate
    ``(min_n/n)^(1-alpha)`` is recomputed by hand from the audit
    output, the md5 keep decision is recomputed by DuckDB (the same
    content-addressed bucket spelling as deterministic_split), alpha=1
    keeps everything, the smallest cell is kept fully, and two runs
    are identical."""
    import math

    from dfsql_spark.operators.similarity import cluster_balanced_sample

    alpha = 0.3
    audit = cluster_balanced_sample(
        emb, alpha=alpha, n_clusters=8, keep_all=True
    ).toPandas()
    assert len(audit) == emb.count()

    # rate formula by hand from the observed cell sizes
    sizes = audit.groupby("cell").size().to_dict()
    min_n = min(sizes.values())
    for cell, n in sizes.items():
        want = (min_n / n) ** (1.0 - alpha)
        got = audit.loc[audit.cell == cell, "keep_rate"].iloc[0]
        assert math.isclose(got, want, rel_tol=1e-12), (cell, got, want)

    # smallest cell kept fully; nothing up-sampled; kept ratio sane
    smallest = min(sizes, key=lambda c: sizes[c])
    sm = audit[audit.cell == smallest]
    assert sm.kept.all()

    # DuckDB recomputes every keep decision from (id, keep_rate)
    duck.register("cbal_pd", audit[["vec_id", "keep_rate", "kept"]])
    bad = duck.sql(
        """
        SELECT count(*) FROM cbal_pd
        WHERE kept <> (
            CAST('0x' || substr(md5('cbal:' || CAST(vec_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 10000 < keep_rate * 10000
        )
        """
    ).fetchone()[0]
    duck.unregister("cbal_pd")
    assert bad == 0

    # alpha=1 -> natural proportions, keep everything
    all_kept = cluster_balanced_sample(emb, alpha=1.0, n_clusters=8)
    assert all_kept.count() == len(audit)

    # determinism across runs
    a = sorted(r.vec_id for r in cluster_balanced_sample(emb, alpha=alpha, n_clusters=8).collect())
    b = sorted(r.vec_id for r in cluster_balanced_sample(emb, alpha=alpha, n_clusters=8).collect())
    assert a == b and 0 < len(a) <= len(audit)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        cluster_balanced_sample(emb, alpha=1.5)


def test_cluster_balanced_sample_plan_shape(emb):
    """Scale pin: assignment is a map, the rate table derives from an
    n_clusters-row aggregate and BROADCASTS back — the embedding
    payload never crosses a data shuffle."""
    from dfsql_spark.operators.similarity import cluster_balanced_sample
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(cluster_balanced_sample(emb, alpha=0.3, n_clusters=8))
    assert s.n_broadcast_joins >= 1, s.text
    assert s.n_sortmerge_joins == 0, s.text
    for line in s.text.splitlines():
        if "hashpartitioning" in line:
            assert "embedding" not in line and "features" not in line, line


def test_event_funnel_fuzz_vs_bruteforce_reference(spark):
    """Seeded fuzz for the round-10 single-pass rewrite: on random
    event logs (duplicate timestamps, missing steps, out-of-order
    arrivals, NULL timestamps, users skipping straight to late steps)
    the funnel counts must equal a brute-force per-user reference
    implementing the spec directly — with and without a window
    bound."""
    import random

    import pandas as pd

    from dfsql_spark.operators.rollup import event_funnel

    steps = ["a", "b", "c"]

    def reference(rows, within_days):
        # greedy-earliest chain per user, then count users per step
        by_user = {}
        for u, e, ts in rows:
            if ts is not None:
                by_user.setdefault(u, []).append((e, ts))
        counts = [0] * len(steps)
        for evs in by_user.values():
            t_prev, t0 = None, None
            for k, s in enumerate(steps):
                cand = sorted(
                    ts
                    for e, ts in evs
                    if e == s and (k == 0 or ts > t_prev)
                )
                if not cand:
                    break
                t_k = cand[0]
                if k == 0:
                    t0 = t_k
                if within_days is not None and t_k > t0 + pd.Timedelta(
                    days=within_days
                ):
                    break
                counts[k] += 1
                t_prev = t_k
        return counts

    rng = random.Random(20260815)
    base = pd.Timestamp("2024-01-01")
    for trial in range(8):
        rows = []
        for _ in range(rng.randint(5, 60)):
            u = rng.randint(1, 8)
            e = rng.choice(steps + ["noise"])
            ts = (
                None
                if rng.random() < 0.05
                else base + pd.Timedelta(hours=rng.randint(0, 300))
            )
            rows.append((u, e, ts))
        pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        within_days = rng.choice([None, 5])
        got = {
            r.step_idx: r.n_users
            for r in event_funnel(
                sdf,
                steps,
                within=None if within_days is None else f"{within_days} days",
            ).collect()
        }
        want = reference(rows, within_days)
        assert [got[k] for k in range(len(steps))] == want, (
            trial, within_days, got, want, rows,
        )


def test_event_funnel_is_single_scan_single_job(spark):
    """Round-10 rewrite pin (companion to the cap_per_key plan test):
    a K-step funnel must read the events table ONCE — the old
    funnel-by-join chain ran one action per step on unpersisted
    lineage, re-executing joins 1..k−1 (O(K²) scans at 100 TB).  Also
    pins: no join anywhere, the step-type filter pushed to the scan,
    and a lazy result (building the report triggers zero jobs)."""
    from dfsql_spark.operators.rollup import event_funnel
    from dfsql_spark.plans.audit import plan_summary

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    df = event_funnel(events, ["signup", "view", "purchase"], within="30 days")
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "funnel construction ran driver jobs"
    s = plan_summary(df)
    assert s.n_scans == 1, f"expected ONE events scan, plan:\n{s.text}"
    assert "Join" not in s.text, f"funnel must not join:\n{s.text}"
    assert "event_type" in ";".join(s.pushed_filters)


def test_canonicalize_url_fuzz_idempotent_and_total(spark):
    """500 seeded adversarial strings (control chars, unicode, stray
    separators, nested schemes): canonicalization never throws,
    always yields NULL or an idempotent canonical form."""
    import random

    import pandas as pd

    from dfsql_spark.operators.web import canonicalize_url

    rng = random.Random(42)
    alphabet = (
        "abcXYZ019:/?#@&=.%-_~ \t\n"
        "://http..wwwéΩ中\x00\x0b"
    )
    raws = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(500)
    ]
    pdf = pd.DataFrame({"i": range(len(raws)), "url": raws})
    once = {
        r.i: r.canonical_url
        for r in canonicalize_url(spark.createDataFrame(pdf)).collect()
    }
    again_in = pd.DataFrame(
        {"i": list(once), "url": [once[i] for i in once]}
    )
    twice = {
        r.i: r.canonical_url
        for r in canonicalize_url(spark.createDataFrame(again_in)).collect()
    }
    assert once == twice
    assert len(once) == 500


def test_normalize_text_fuzz_idempotent(spark):
    """The dedup key normalizer must be idempotent (a re-normalized
    survivor may never change identity) — pinned over 400 seeded
    adversarial strings, same technique that caught the
    canonicalize_url multi-pass bugs."""
    import random

    import pandas as pd

    from dfsql_spark.operators.dedup import normalize_text

    rng = random.Random(7)
    alphabet = "aAzZ09 \t\n\r\x0b\x0c  éİΣσς中."
    pdf = pd.DataFrame(
        {
            "i": range(400),
            "t": [
                "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 50)))
                for _ in range(400)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    once = {
        r.i: r.n for r in df.select("i", normalize_text("t").alias("n")).collect()
    }
    back = spark.createDataFrame(
        pd.DataFrame({"i": list(once), "t": [once[i] for i in once]})
    )
    twice = {
        r.i: r.n
        for r in back.select("i", normalize_text("t").alias("n")).collect()
    }
    assert once == twice and len(once) == 400


def test_ngram_repetition_signals_hand_pinned(spark):
    import pandas as pd

    from dfsql_spark.operators.text import ngram_repetition_signals

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a b a b a b", None, "aa bb cc", "  \t \n "],
        }
    )
    got = {
        r.doc_id: r
        for r in ngram_repetition_signals(spark.createDataFrame(pdf)).collect()
    }
    r1 = got[1]  # tokens [a b a b a b], doc_chars = 11
    assert abs(r1.top2_gram_char_frac - 9 / 11) < 1e-12   # "a b" x3, len 3
    assert abs(r1.top3_gram_char_frac - 10 / 11) < 1e-12  # tie at cnt=2, len 5
    # overlap counting can exceed 1 (documented): "a b a b" x2, len 7
    assert abs(r1.top4_gram_char_frac - 14 / 11) < 1e-12
    assert r1.dup5_gram_char_frac == 0.0  # two distinct 5-grams
    assert r1.dup6_gram_char_frac == 0.0  # one 6-gram (cnt 1)
    assert r1.dup7_gram_char_frac is None  # fewer than 7 tokens
    r3 = got[3]  # doc_chars = 8
    assert abs(r3.top2_gram_char_frac - 5 / 8) < 1e-12  # cnt-1 tie -> len 5
    assert r3.top3_gram_char_frac == 1.0
    assert r3.top4_gram_char_frac is None
    for n in range(5, 11):
        assert getattr(r3, f"dup{n}_gram_char_frac") is None
    for d in (2, 4):  # NULL text / whitespace-only: no tokens at all
        row = got[d]
        for c in row.asDict():
            if c != "doc_id":
                assert row[c] is None, (d, c)


def test_ngram_repetition_signals_matches_duckdb_mirror(spark, duck):
    import pandas as pd

    from dfsql_spark.operators.text import ngram_repetition_signals

    def mk(i):
        if i % 13 == 0:
            return None
        if i % 13 == 1:
            return "   \n\t "
        words = [f"w{j}" for j in range(i % 7 + 2)]
        body = " ".join(words * (i % 5 + 1))
        if i % 3 == 0:
            body += " spam ham" * (i % 4 + 1)
        if i % 4 == 0:
            body = "\t" + body + "\nterminal line. " * (i % 3)
        return body

    cols = [f"top{n}_gram_char_frac" for n in (2, 3, 4)] + [
        f"dup{n}_gram_char_frac" for n in range(5, 11)
    ]
    pdf = pd.DataFrame({"doc_id": range(150), "text": [mk(i) for i in range(150)]})
    got = {
        r.doc_id: tuple(
            None if r[c] is None else round(r[c], 10) for c in cols
        )
        for r in ngram_repetition_signals(spark.createDataFrame(pdf)).collect()
    }
    duck.register("nrep_pd", pdf)
    want = dict(
        (r[0], tuple(None if v is None else round(v, 10) for v in r[1:]))
        for r in duck.sql(
            r"""
        WITH b AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                               x -> x <> '') AS t
            FROM nrep_pd
        ), d AS (
            SELECT doc_id, t, length(array_to_string(t, ' ')) AS dc FROM b
        ), g AS (
            SELECT doc_id, nn.n AS n,
                   array_to_string(t[ii.i:ii.i + nn.n - 1], ' ') AS gram
            FROM d,
                 unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS nn(n),
                 unnest(range(1, len(t) - nn.n + 2)) AS ii(i)
        ), gc AS (
            SELECT doc_id, n, gram, count(*) AS c, length(gram) AS ln
            FROM g GROUP BY doc_id, n, gram
        ), per AS (
            SELECT doc_id, n,
                   max(struct_pack(c := c, ln := ln)) AS tp,
                   sum(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS dup
            FROM gc GROUP BY doc_id, n
        ), f AS (
            SELECT doc_id,
                   max(CASE WHEN n = 2 THEN tp.c * tp.ln END) AS t2,
                   max(CASE WHEN n = 3 THEN tp.c * tp.ln END) AS t3,
                   max(CASE WHEN n = 4 THEN tp.c * tp.ln END) AS t4,
                   max(CASE WHEN n = 5 THEN dup END) AS d5,
                   max(CASE WHEN n = 6 THEN dup END) AS d6,
                   max(CASE WHEN n = 7 THEN dup END) AS d7,
                   max(CASE WHEN n = 8 THEN dup END) AS d8,
                   max(CASE WHEN n = 9 THEN dup END) AS d9,
                   max(CASE WHEN n = 10 THEN dup END) AS d10
            FROM per GROUP BY doc_id
        )
        SELECT d.doc_id,
               t2 * 1.0 / dc, t3 * 1.0 / dc, t4 * 1.0 / dc,
               d5 * 1.0 / dc, d6 * 1.0 / dc, d7 * 1.0 / dc,
               d8 * 1.0 / dc, d9 * 1.0 / dc, d10 * 1.0 / dc
        FROM d LEFT JOIN f USING (doc_id)
        """
        ).fetchall()
    )
    duck.unregister("nrep_pd")
    assert got == want and len(got) == 150
    # generator must exercise non-trivial values, not just NULL/0
    vals = [v for t in got.values() for v in t if v not in (None, 0.0)]
    assert len(vals) > 100


def test_ngram_repetition_signals_plan_shape(docs):
    from dfsql_spark.operators.text import ngram_repetition_signals
    from dfsql_spark.plans.audit import plan_summary

    out = ngram_repetition_signals(docs)
    assert out.count() == docs.count()  # one row per doc, always
    s = plan_summary(out)
    assert "EvalPython" not in s.text
    # one per-gram agg, one per-doc agg, one roster join: <=4 exchanges
    assert s.n_exchanges <= 4


# ---------------------------------------------------------------------------
# perplexity_buckets (CCNet-style per-language quality terciles)
# ---------------------------------------------------------------------------


def _ppl_scored(docs):
    """Derived score with deliberate TIES (n_chars % 100 collides) to
    exercise the id tie-break, and NULLs (every 17th doc) to exercise
    the unscorable-row contract."""
    return docs.select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 17 == 0, F.lit(None))
        .otherwise((F.col("n_chars") % 100).cast("double"))
        .alias("s"),
    )


def test_perplexity_buckets_exact_matches_duckdb_ntile(docs, duck):
    """The exact path IS ANSI ntile: PARTITION BY lang ORDER BY score
    DESC, doc_id — the id tie-break totally orders every partition, so
    Spark and DuckDB must agree row-for-row (both hand the remainder
    one row per leading bucket); NULL scores keep their row with a
    NULL bucket."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import perplexity_buckets

    got = perplexity_buckets(
        _ppl_scored(docs), score_col="s", group_col="lang", id_col="doc_id"
    )
    want = duck.sql(
        """
        WITH scored AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        ELSE CAST(n_chars % 100 AS DOUBLE) END AS s
            FROM documents
        ), nn AS (
            SELECT doc_id,
                   ntile(3) OVER (PARTITION BY lang
                                  ORDER BY s DESC, doc_id) AS bucket
            FROM scored WHERE s IS NOT NULL
        )
        SELECT sc.doc_id, sc.lang, CAST(nn.bucket AS INT) AS bucket,
               CASE nn.bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                              WHEN 3 THEN 'tail' END AS bucket_label
        FROM scored sc LEFT JOIN nn ON sc.doc_id = nn.doc_id
        """
    ).df()
    assert_matches_oracle(got, want, "perplexity_buckets_exact")


def test_perplexity_buckets_thresholds_matches_duckdb(docs, duck):
    """The zero-shuffle thresholds path (what CCNet itself ships) is
    pure arithmetic — bucket = 1 + #cuts strictly above the score —
    mirrored as a CASE over a literal per-language cut table; a
    language absent from the dict gets NULL buckets (flag, don't
    guess), as do NULL scores."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import perplexity_buckets

    cuts = {"en": [70.0, 35.0], "zh": [60.0, 30.0], "es": [80.0, 20.0]}
    got = perplexity_buckets(
        _ppl_scored(docs),
        score_col="s",
        group_col="lang",
        id_col="doc_id",
        thresholds=cuts,
    )
    case = " ".join(
        f"WHEN lang = '{g}' THEN (CASE WHEN s >= {c1!r} THEN 1 "
        f"WHEN s >= {c2!r} THEN 2 ELSE 3 END)"
        for g, (c1, c2) in sorted(cuts.items())
    )
    want = duck.sql(
        f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 17 = 0 THEN NULL
                        ELSE CAST(n_chars % 100 AS DOUBLE) END AS s
            FROM documents
        ), b AS (
            SELECT doc_id, lang,
                   CASE WHEN s IS NULL THEN NULL {case} END AS bucket
            FROM scored
        )
        SELECT doc_id, lang, CAST(bucket AS INT) AS bucket,
               CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                           WHEN 3 THEN 'tail' END AS bucket_label
        FROM b
        """
    ).df()
    assert_matches_oracle(got, want, "perplexity_buckets_thresholds")


def test_perplexity_buckets_hand_pinned_semantics(spark):
    """Boundary pins the mirrors cannot isolate: a score EQUAL to a
    cut lands in the better bucket; custom n_buckets gets b1..bn
    labels; both validation paths raise."""
    import pytest as _pytest

    from dfsql_spark.operators.text import perplexity_buckets

    df = spark.createDataFrame(
        [
            (1, "en", 9.0),   # above both cuts -> head
            (2, "en", 5.0),   # == cut1 -> better bucket -> head
            (3, "en", 4.99),  # between -> middle
            (4, "en", 2.0),   # == cut2 -> middle
            (5, "en", 1.0),   # below -> tail
            (6, "en", None),  # NULL score -> NULL bucket
            (7, "xx", 9.0),   # group absent from dict -> NULL bucket
        ],
        "doc_id long, lang string, s double",
    )
    out = {
        r.doc_id: (r.bucket, r.bucket_label)
        for r in perplexity_buckets(
            df, score_col="s", group_col="lang", id_col="doc_id",
            thresholds={"en": [5.0, 2.0]},
        ).collect()
    }
    assert out[1] == (1, "head")
    assert out[2] == (1, "head")
    assert out[3] == (2, "middle")
    assert out[4] == (2, "middle")
    assert out[5] == (3, "tail")
    assert out[6] == (None, None)
    assert out[7] == (None, None)

    # exact path on the same frame: 5 scored docs over 3 tiles ->
    # 2/2/1 (remainder to leading buckets), NULLs stay NULL, the
    # absent-group concept does not exist (every group tiles itself)
    exact = {
        r.doc_id: r.bucket
        for r in perplexity_buckets(
            df, score_col="s", group_col="lang", id_col="doc_id"
        ).collect()
    }
    assert exact[1] == 1 and exact[2] == 1      # top 2 of 5
    assert exact[3] == 2 and exact[4] == 2
    assert exact[5] == 3
    assert exact[6] is None
    assert exact[7] == 1  # xx has one scored doc: its own tile 1

    # n_buckets=4 -> generated labels
    four = perplexity_buckets(
        df, score_col="s", group_col="lang", id_col="doc_id", n_buckets=4
    )
    labels = {r.bucket_label for r in four.collect() if r.bucket_label}
    assert labels <= {"b1", "b2", "b3", "b4"}

    with _pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(df, score_col="s", n_buckets=1)
    with _pytest.raises(ValueError, match="labels"):
        perplexity_buckets(df, score_col="s", labels=("only-one",))
    with _pytest.raises(ValueError, match="cuts"):
        perplexity_buckets(
            df, score_col="s", group_col="lang", thresholds={"en": [5.0]}
        )


def test_perplexity_buckets_thresholds_plan_zero_shuffle(docs):
    """Scale pin (the 100 TB path): cutoff assignment rides the scan —
    a broadcast of #groups rows is the ONLY join, there is no window,
    no sort, no Python worker, and at most the broadcast-build
    exchange.  The exact path, by contrast, must show its one window
    (documented corpus-sort trade)."""
    from dfsql_spark.operators.text import perplexity_buckets
    from dfsql_spark.plans.audit import plan_summary

    scored = _ppl_scored(docs)
    s = plan_summary(
        perplexity_buckets(
            scored, score_col="s", group_col="lang", id_col="doc_id",
            thresholds={"en": [70.0, 35.0], "zh": [60.0, 30.0]},
        )
    )
    assert s.n_sortmerge_joins == 0, s.text
    assert s.n_broadcast_joins == 1, s.text
    assert s.n_exchanges <= 1, s.text  # broadcast build only
    assert "Window" not in s.text, s.text
    assert "EvalPython" not in s.text, s.text

    s_exact = plan_summary(
        perplexity_buckets(scored, score_col="s", group_col="lang", id_col="doc_id")
    )
    assert "Window" in s_exact.text
    assert "EvalPython" not in s_exact.text


# ---------------------------------------------------------------------------
# inventory-audit gap closures (round 11): public building blocks that
# only ever ran INSIDE other tested operators get direct pins
# ---------------------------------------------------------------------------


def test_custom_check_and_row_count_between(spark):
    """`Check` is the extension point (a named pair of aggregate
    expressions) — a hand-built custom check must run in the same
    single-pass suite as the builtins, and `row_count_between` must
    gate on both bounds."""
    from dfsql_spark.operators.checks import Check, row_count_between, run_checks

    df = spark.createDataFrame([(1, 5.0), (2, 7.0), (3, 9.0)], "id long, v double")
    custom = Check("mean_v_below_8", F.avg("v") < 8.0, F.avg("v"))
    rows = {
        r.check: (r.passed, r.observed)
        for r in run_checks(
            df, [custom, row_count_between(2, 5), row_count_between(4, 9)]
        ).collect()
    }
    assert rows["mean_v_below_8"] == (True, 7.0)
    assert rows["row_count_between(2,5)"] == (True, 3.0)
    assert rows["row_count_between(4,9)"] == (False, 3.0)


def test_char_shingles_expression(spark):
    """`char_shingles` is the expression-level k-shingle builder the
    dedup family is assembled from: distinct char k-grams of the
    NORMALIZED text (lowercase, whitespace collapsed)."""
    from dfsql_spark.operators.dedup import char_shingles

    df = spark.createDataFrame([("AB  ab",), (None,)], "text string")
    got = [r.s for r in df.select(char_shingles("text", k=2).alias("s")).collect()]
    # normalized "ab ab" -> 2-shingles {ab, "b ", " a"}; distinct
    assert sorted(got[0]) == [" a", "ab", "b "]
    # NULL text: the normalizer coalesces to "" and a sub-k string
    # shingles to itself — the degenerate [""] (downstream consumers
    # filter by shingle count / length, so empties never pair up)
    assert got[1] == [""]


def test_simhash_fingerprints_direct(docs):
    """Direct pin for the fingerprint stage (simhash_pairs is tested
    end-to-end elsewhere): 64-bit bigint per doc, deterministic across
    repartitionings, identical text -> identical fingerprint."""
    from dfsql_spark.operators.dedup import simhash_fingerprints

    fp1 = {r.id: r.simhash for r in simhash_fingerprints(docs).collect()}
    fp2 = {
        r.id: r.simhash
        for r in simhash_fingerprints(docs.repartition(7)).collect()
    }
    assert fp1 == fp2 and len(fp1) == docs.count()
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    by_text: dict = {}
    for i, t in texts.items():
        by_text.setdefault(t, set()).add(fp1[i])
    for t, fps in by_text.items():
        assert len(fps) == 1, f"same text, different simhash: {t[:40]!r}"


def test_hashed_bucket_sums_matches_dense_embedding(docs):
    """`hashed_bucket_sums` is the sparse stage of hashed_embeddings:
    scattering its (bucket, value) rows into a dense vector must equal
    the dense operator's output exactly."""
    from dfsql_spark.operators.text import hashed_bucket_sums, hashed_embeddings

    dim = 16
    sparse = hashed_bucket_sums(docs, dim=dim)
    dense = {
        r.doc_id: r.embedding
        for r in hashed_embeddings(docs, dim=dim, normalize=False).collect()
    }
    rebuilt: dict = {}
    for r in sparse.collect():
        rebuilt.setdefault(r._id, [0.0] * dim)[r._b] = float(r._v)
    for doc_id, vec in rebuilt.items():
        assert vec == list(dense[doc_id]), doc_id
    # docs with no tokens produce no sparse rows but a zero dense vector
    assert set(rebuilt) <= set(dense)


def test_canonical_url_expr_composes_in_select(spark):
    """`canonical_url_expr` is the column-level API (canonicalize_url
    is the DataFrame wrapper): it must be usable directly inside any
    select, producing the same canonical form."""
    from dfsql_spark.operators.web import canonical_url_expr, canonicalize_url

    df = spark.createDataFrame(
        [("HTTPS://WWW.Example.com:443/a/?utm_source=x&q=1#frag",)],
        "url string",
    )
    via_expr = df.select(canonical_url_expr("url").alias("canonical_url"))
    via_wrapper = canonicalize_url(df).select("canonical_url")
    assert via_expr.collect() == via_wrapper.collect()
    assert via_expr.collect()[0][0] == "https://example.com/a?q=1"


def test_remove_duplicate_lines_scoped_by_domain(spark):
    """RefinedWeb scoping (round 11): with scope_col set, a line
    collapses only WITHIN its scope value — site chrome repeated
    across one domain is stripped, a legitimately common line in two
    unrelated domains survives in both; NULL scopes share one dedup
    domain."""
    import pandas as pd

    from dfsql_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "domain": ["a.com", "a.com", "b.org", None, None],
                "text": [
                    "nav bar\nstory one",
                    "nav bar\nstory two",       # same domain: nav bar dies
                    "nav bar\nstory three",     # other domain: nav bar lives
                    "nav bar\nstory four",      # NULL scope: first keeps
                    "nav bar\nstory five",      # NULL scope: repeat dies
                ],
            }
        )
    )
    out = {
        r.doc_id: r.text
        for r in remove_duplicate_lines(
            docs, min_line_chars=1, scope_col="domain"
        ).collect()
    }
    assert out[1] == "nav bar\nstory one"
    assert out[2] == "story two"
    assert out[3] == "nav bar\nstory three"
    assert out[4] == "nav bar\nstory four"
    assert out[5] == "story five"

    # a CONSTANT scope column degenerates to the global behavior
    const = docs.withColumn("domain", F.lit("all"))
    got_scoped = {
        r.doc_id: (r.text, r.n_lines, r.n_kept)
        for r in remove_duplicate_lines(
            const, min_line_chars=1, scope_col="domain"
        ).collect()
    }
    got_global = {
        r.doc_id: (r.text, r.n_lines, r.n_kept)
        for r in remove_duplicate_lines(docs, min_line_chars=1).collect()
    }
    assert got_scoped == got_global


def test_remove_duplicate_lines_scoped_duckdb_mirror(docs, duck):
    """Full-construction DuckDB mirror of the SCOPED variant on the
    documents table (8-token synthetic lines, scope = source): first
    occurrence per (source, line) by (doc_id, pos) survives, docs
    reassemble in position order."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.dedup import remove_duplicate_lines

    # synthesize multi-line docs exactly like d11 does (8-token lines)
    lined = docs.select(
        "doc_id",
        "source",
        F.regexp_replace(
            F.col("text"), r"((?:\S+ ){7}\S+) ", "$1\n"
        ).alias("text"),
    )
    got = remove_duplicate_lines(
        lined, min_line_chars=2, scope_col="source"
    ).select("doc_id", "text", "n_lines", "n_kept")
    want = duck.sql(
        r"""
        WITH ml AS (
            SELECT doc_id, source,
                   string_split(
                       regexp_replace(text,
                           '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g'),
                       chr(10)) AS ls
            FROM documents
        ), lines AS (
            SELECT doc_id, source, u.i - 1 AS pos, ls[u.i] AS line
            FROM ml, unnest(range(1, len(ls) + 1)) u(i)
        ), kept AS (
            SELECT doc_id, pos, line
            FROM (
                SELECT doc_id, pos, line,
                       ROW_NUMBER() OVER (
                           PARTITION BY source, line ORDER BY doc_id, pos
                       ) AS rn
                FROM lines WHERE length(line) >= 2
            ) WHERE rn = 1
            UNION ALL
            SELECT doc_id, pos, line FROM lines WHERE length(line) < 2
        ), rebuilt AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY pos) AS text,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT m.doc_id,
               COALESCE(r.text, '') AS text,
               CAST(len(m.ls) AS INT) AS n_lines,
               COALESCE(r.n_kept, 0) AS n_kept
        FROM ml m LEFT JOIN rebuilt r ON m.doc_id = r.doc_id
        """
    ).df()
    assert_matches_oracle(got, want, "remove_duplicate_lines_scoped")


def test_key_skew_report_hand_pinned_and_mirror(spark, duck):
    """Hot-key report: counts, fractions, skew ratio vs mean
    rows-per-key, and the salt suggestion feeding salted_groupby_agg;
    exact DuckDB mirror over events(user_id) incl. the deterministic
    (count desc, key asc) tie-break."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.skew import key_skew_report

    # hand frame: key 'h' holds 6 of 10 rows over 3 keys
    df = spark.createDataFrame(
        [("h",)] * 6 + [("a",)] * 3 + [("z",)], "k string"
    )
    rows = key_skew_report(df, "k", top_n=3).collect()
    assert [r.k for r in rows] == ["h", "a", "z"]
    h = rows[0]
    assert h.n_rows == 6 and abs(h.row_frac - 0.6) < 1e-12
    assert abs(h.skew_ratio - 1.8) < 1e-12  # 6 / (10/3)
    assert h.suggested_salts == 2
    assert rows[2].suggested_salts == 1  # cold key still salts >= 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        key_skew_report(df, [])
    with _pytest.raises(ValueError, match="top_n"):
        key_skew_report(df, "k", top_n=0)

    # mirror on the events table
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = key_skew_report(events, "user_id", top_n=10)
    want = duck.sql(
        """
        WITH c AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
            FROM events GROUP BY user_id
        ), s AS (
            SELECT CAST(sum(n_rows) AS DOUBLE) AS total,
                   CAST(count(*) AS DOUBLE) AS n_keys
            FROM c
        )
        SELECT user_id, n_rows,
               n_rows / total AS row_frac,
               n_rows * n_keys / total AS skew_ratio,
               CAST(CEIL(n_rows * n_keys / total) AS INT) AS suggested_salts
        FROM c, s
        ORDER BY n_rows DESC, user_id ASC
        LIMIT 10
        """
    ).df()
    assert_matches_oracle(got, want, "key_skew_report")


def test_key_skew_report_plan_take_ordered(spark):
    """Scale pin: one map-side-combined count aggregate + a broadcast
    of the 1-row stats frame + TakeOrdered — no Window, no global
    Sort, no Python."""
    from dfsql_spark.operators.skew import key_skew_report
    from dfsql_spark.plans.audit import plan_summary

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = plan_summary(key_skew_report(events, "user_id", top_n=5))
    assert "TakeOrderedAndProject" in s.text, s.text
    assert "Window" not in s.text, s.text
    # the 1-row stats frame crosses in as a BroadcastNestedLoopJoin —
    # broadcast by construction, no hash join needed for 1 row
    assert "BroadcastNestedLoopJoin" in s.text, s.text
    assert "BroadcastExchange" in s.text, s.text
    assert s.n_sortmerge_joins == 0, s.text
    assert "EvalPython" not in s.text, s.text
    # static plan: the counts subtree prints twice (top-n branch +
    # stats branch) so its identical Exchange appears twice — Spark's
    # ReuseExchange collapses them at runtime — plus the single-row
    # stats exchange and the broadcast build
    assert s.n_exchanges <= 4, s.text


def test_join_cardinality_report_hand_pinned_and_mirror(spark, duck):
    """Exact join-size pre-flight: per-key n_left x n_right plus the
    __total__ row, without executing the row-level join; DuckDB mirror
    on the many-to-many events self-join by user_id."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.skew import join_cardinality_report

    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [("only_left",)], "k string"
    )
    right = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 5 + [("only_right",)], "k string"
    )
    rows = join_cardinality_report(left, right, "k", top_n=5).collect()
    by_key = {r.k: (r.n_left, r.n_right, r.n_out) for r in rows}
    assert by_key["a"] == (3, 4, 12)
    assert by_key["b"] == (2, 5, 10)
    assert "only_left" not in by_key and "only_right" not in by_key
    assert by_key[None] == (5, 9, 22)  # the __total__ row
    # verify against the actual join
    assert left.join(right, "k").count() == 22
    # contribution order: b (10) < a (12) -> a first
    assert [r.k for r in rows] == ["a", "b", None]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="join column"):
        join_cardinality_report(left, right, [])

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = join_cardinality_report(events, events, "user_id", top_n=8)
    want = duck.sql(
        """
        WITH c AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY user_id
        ), per_key AS (
            SELECT a.user_id, a.n AS n_left, b.n AS n_right,
                   a.n * b.n AS n_out
            FROM c a JOIN c b USING (user_id)
        ), top AS (
            SELECT * FROM per_key
            ORDER BY n_out DESC, user_id ASC LIMIT 8
        )
        SELECT user_id, n_left, n_right, n_out FROM top
        UNION ALL
        SELECT NULL, SUM(n_left), SUM(n_right), SUM(n_out) FROM per_key
        """
    ).df()
    assert_matches_oracle(got, want, "join_cardinality_report")
    # and the total row really is the self-join's output size
    total = [r for r in got.collect() if r.user_id is None][0]
    assert total.n_out == events.join(
        events.select("user_id"), "user_id"
    ).count()


def test_random_projection_deterministic_and_jl(spark, emb):
    """JL random projection: (a) bit-deterministic across runs and
    repartitionings (content-independent seeded matrix + per-row map);
    (b) pairwise cosines survive 64->24 within JL-plausible error on
    the real embeddings table; (c) NULL / width-mismatched vectors
    project to NULL; (d) validation raises."""
    import numpy as np

    import pytest as _pytest

    from dfsql_spark.operators.similarity import random_projection

    out1 = {
        r.vec_id: r.proj
        for r in random_projection(emb, 24, seed=7).select("vec_id", "proj").collect()
    }
    out2 = {
        r.vec_id: r.proj
        for r in random_projection(emb.repartition(5), 24, seed=7)
        .select("vec_id", "proj")
        .collect()
    }
    assert out1 == out2
    assert all(len(v) == 24 for v in out1.values())

    # JL property at 64->48 (for near-orthogonal random vectors the
    # absolute cosine distortion at k=24 is large — eps ~ sqrt(log n/k)
    # — so the quality check uses a milder compression; empirical
    # mean/max at k=48 on this table is 0.10/0.24, asserted at 2x):
    # pairwise cosines and norms both survive within JL error
    proj48 = {
        r.vec_id: np.array(r.proj)
        for r in random_projection(emb, 48, seed=7)
        .select("vec_id", "proj")
        .collect()
    }
    vecs = {
        r.vec_id: np.array(r.embedding)
        for r in emb.select("vec_id", "embedding").limit(40).collect()
    }
    ids = sorted(vecs)
    errs, norm_ratios = [], []
    for a, b in zip(ids[::2], ids[1::2]):
        va, vb = vecs[a], vecs[b]
        pa, pb = proj48[a], proj48[b]
        c0 = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        c1 = pa @ pb / (np.linalg.norm(pa) * np.linalg.norm(pb))
        errs.append(abs(c0 - c1))
        norm_ratios.append(np.linalg.norm(pa) / np.linalg.norm(va))
    assert np.mean(errs) < 0.2 and max(errs) < 0.5, (np.mean(errs), max(errs))
    assert 0.85 < np.mean(norm_ratios) < 1.15, np.mean(norm_ratios)
    assert all(0.5 < r < 1.5 for r in norm_ratios), norm_ratios

    # degenerate rows -> NULL, healthy row in the same batch unaffected
    deg = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, [1.0] * 64)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    got = {
        r.vec_id: r.proj
        for r in random_projection(deg, 8, dim=64).select("vec_id", "proj").collect()
    }
    assert got[1] is None and got[2] is None
    assert got[3] is not None and len(got[3]) == 8

    with _pytest.raises(ValueError, match="out_dim"):
        random_projection(emb, 0)


def test_random_projection_plan_zero_shuffle(emb):
    """Scale pin: the projection rides the scan — one Arrow eval, no
    exchange of any kind."""
    from dfsql_spark.operators.similarity import random_projection
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(random_projection(emb, 16))
    assert s.n_exchanges == 0, s.text
    assert "ArrowEvalPython" in s.text, s.text
    assert s.n_sortmerge_joins == 0 and s.n_broadcast_joins == 0, s.text


def test_ngram_jaccard_gate3_candidate_bound_escalation(spark):
    """Round-11 gate (found by the sf1 smoke): when the cheap-dense
    ops cap is exceeded AND the corpus has no rare-shingle tail to
    make prefix filtering selective, auto must (a) take the dense
    fallback while the bitmap is feasible, (b) refuse with guidance
    when it is not — never launch the exploding prefix join.  A corpus
    WITH a rare-token tail under the same tiny ops cap still goes
    prefix."""
    import pytest as _pytest

    from dfsql_spark.operators.dedup import ngram_jaccard_pairs

    # templated corpus: every doc shares the same base text (one hot
    # shingle vocabulary, zero rare tail)
    hot = spark.createDataFrame(
        [(i, "the common boilerplate banner text shared by all") for i in range(40)],
        "doc_id long, text string",
    )
    info: dict = {}
    out = ngram_jaccard_pairs(
        hot,
        threshold=0.6,
        dense_max_ops=1,          # force past the cheap-dense gate
        prefix_max_candidates=10,  # candidate bound (C(40,2)=780) explodes
        strategy_out=info,
    )
    assert info["strategy"] == "dense"
    assert info["cand_ub"] > 10
    # identical docs: every pair qualifies at jaccard 1.0
    assert out.count() == 40 * 39 // 2

    # same corpus, fallback also closed -> refuse with the scale advice
    with _pytest.raises(ValueError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(
            hot,
            threshold=0.6,
            dense_max_ops=1,
            dense_max_ops_fallback=1,
            prefix_max_candidates=10,
        )

    # rare-token corpus: distinct texts -> candidate bound tiny ->
    # prefix survives the same tiny ops cap
    rare = spark.createDataFrame(
        [
            (i, f"document body {i} unique tokens {i * 7} and {i * 13} tail")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    info2: dict = {}
    ngram_jaccard_pairs(
        rare, threshold=0.6, dense_max_ops=1, strategy_out=info2
    ).count()
    assert info2["strategy"] == "prefix"
    assert info2["cand_ub"] <= 1e8


def test_ngram_gate_decision_unchanged_at_graded_scales(docs):
    """Round-11 rotation-exception pin: the Gate 3 addition to
    ngram_jaccard_pairs must not change the auto strategy at the
    scales the driver and the sweep grade at — the documents corpus
    clears the CHEAP dense cap (Gate 2) at sf0.001/0.01/0.1, so
    Gate 3 (and its candidate-bound job) is never consulted there and
    the executed plan is the same dense compare d02 was graded on in
    round 10."""
    from dfsql_spark.operators.dedup import ngram_jaccard_pairs

    info: dict = {}
    ngram_jaccard_pairs(docs, threshold=0.6, strategy_out=info)
    assert info["strategy"] == "dense", info
    # Gate 3 never ran: no candidate bound was computed
    assert "cand_ub" not in info, info
    # and the cheap cap really is what admitted it
    docs_n = info["n_docs"]
    row_bytes = (info["vocab"] + 7) // 8
    assert (docs_n * docs_n / 2) * row_bytes <= 2e10


def test_ngram_jaccard_dense_gemm_kernel_agrees(spark):
    """The dense path picks its compare kernel by vocab width
    (popcount sweep <= 4096 bits, blocked sgemm above); the corpus
    fixtures are all small-vocab, so pin the GEMM kernel explicitly:
    a >4096-shingle corpus with planted duplicate pairs must produce
    the same pair set and jaccard values as the prefix path."""
    import random

    from dfsql_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(11)
    rows = []
    for i in range(120):
        words = " ".join(f"w{rng.randrange(10**6)}x{i}" for _ in range(30))
        rows.append((2 * i, words))
        if i % 4 == 0:  # planted near-dup: same text, one word changed
            rows.append((2 * i + 1, words.rsplit(" ", 1)[0] + " zz9"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    dense = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.6, strategy="dense"
        ).collect()
    }
    prefix = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.6, strategy="prefix"
        ).collect()
    }
    assert dense == prefix
    assert len(dense) >= 30  # the planted pairs are found
    # and this corpus really exercised the GEMM branch
    from dfsql_spark.operators.dedup import shingle_sets
    from pyspark.sql import functions as _F

    vocab = (
        shingle_sets(docs, k=5)
        .select(_F.explode("shs").alias("sh"))
        .agg(_F.countDistinct("sh"))
        .collect()[0][0]
    )
    assert vocab > 4096, vocab


# ---------------------------------------------------------------------------
# ann_recall_report / ann_recall_summary (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ann_result_tables(spark):
    """Hand-built truth/approx result tables with every edge the
    report must handle: a perfect query, a partial-hit query, a query
    the index missed entirely (truth-only), an approx-only query, a
    truth list shorter than k, and rank rows beyond k on both sides
    (must be truncated, not scored)."""
    truth = spark.createDataFrame(
        [
            # q1: 3 true neighbors (full k)
            (1, 101, 1), (1, 102, 2), (1, 103, 3),
            # q2: short truth list (2 < k)
            (2, 201, 1), (2, 202, 2),
            # q3: index missed it entirely
            (3, 301, 1), (3, 302, 2), (3, 303, 3),
            # q1 beyond-k row: must NOT enter the denominator
            (1, 199, 4),
        ],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        [
            # q1: 2 of 3 right, 1 wrong
            (1, 101, 1), (1, 999, 2), (1, 103, 3),
            # q2: both right (perfect)
            (2, 202, 1), (2, 201, 2),
            # q4: approx-only query — ignored
            (4, 401, 1),
            # q2 beyond-k row: must NOT count as a hit
            (2, 203, 4),
        ],
        "query_id long, neighbor_id long, rank long",
    )
    return truth, approx


def test_ann_recall_report_hand_pinned(ann_result_tables):
    from dfsql_spark.operators.similarity import ann_recall_report

    truth, approx = ann_result_tables
    rows = {
        r.query_id: r
        for r in ann_recall_report(truth, approx, k=3).collect()
    }
    assert set(rows) == {1, 2, 3}  # q4 (approx-only) ignored
    assert (rows[1].n_truth, rows[1].n_approx, rows[1].n_hit) == (3, 3, 2)
    assert rows[1].recall == pytest.approx(2 / 3)
    # q2: short truth list — denominator is 2, not k
    assert (rows[2].n_truth, rows[2].n_approx, rows[2].n_hit) == (2, 2, 2)
    assert rows[2].recall == 1.0
    # q3: missed query scores 0, not dropped
    assert (rows[3].n_truth, rows[3].n_approx, rows[3].n_hit) == (3, 0, 0)
    assert rows[3].recall == 0.0
    with pytest.raises(ValueError):
        ann_recall_report(truth, approx, k=0)


def test_ann_recall_report_matches_duckdb(ann_result_tables, duck):
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.similarity import (
        ann_recall_report,
        ann_recall_summary,
    )

    truth, approx = ann_result_tables
    duck.register("ann_truth_pd", truth.toPandas())
    duck.register("ann_approx_pd", approx.toPandas())
    mirror = """
        WITH t AS (SELECT DISTINCT query_id, neighbor_id
                   FROM ann_truth_pd WHERE rank <= 3),
             a AS (SELECT DISTINCT query_id, neighbor_id
                   FROM ann_approx_pd WHERE rank <= 3),
             an AS (SELECT query_id, count(*) AS n_approx FROM a
                    GROUP BY query_id)
        SELECT t.query_id,
               count(*) AS n_truth,
               coalesce(any_value(an.n_approx), 0) AS n_approx,
               coalesce(sum(CASE WHEN a.neighbor_id IS NOT NULL
                                 THEN 1 END), 0) AS n_hit,
               coalesce(sum(CASE WHEN a.neighbor_id IS NOT NULL
                                 THEN 1 END), 0)
                   / count(*)::DOUBLE AS recall
        FROM t
        LEFT JOIN a USING (query_id, neighbor_id)
        LEFT JOIN an ON an.query_id = t.query_id
        GROUP BY t.query_id
    """
    assert_matches_oracle(
        ann_recall_report(truth, approx, k=3),
        duck.sql(mirror).df(),
        "ann_recall_report",
    )
    summary_mirror = f"""
        SELECT count(*) AS n_queries,
               avg(recall) AS macro_recall,
               sum(n_hit)::DOUBLE / sum(n_truth) AS micro_recall,
               min(recall) AS min_recall,
               avg(CASE WHEN recall = 1.0 THEN 1.0 ELSE 0.0 END)
                   AS frac_perfect
        FROM ({mirror})
    """
    assert_matches_oracle(
        ann_recall_summary(truth, approx, k=3),
        duck.sql(summary_mirror).df(),
        "ann_recall_summary",
    )


def test_ann_recall_on_real_ann_stack(emb):
    """End-to-end on the embeddings table: exact-vs-exact recall is
    identically 1.0, and IVF probing EVERY cell is exhaustive, so its
    recall is 1.0 too; LSH with few planes sits in [0, 1] and the
    summary aggregates agree with the per-query report."""
    from dfsql_spark.operators.similarity import (
        ann_recall_report,
        ann_recall_summary,
        cosine_topk,
        ivf_topk,
        lsh_topk,
    )

    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = cosine_topk(emb, queries, k=5).cache()
    try:
        self_rep = ann_recall_report(truth, truth, k=5)
        assert self_rep.filter(F.col("recall") < 1.0).count() == 0

        ivf = ivf_topk(
            emb, queries, k=5, n_cells=4, n_probe=4, seed=7, max_iter=4
        )
        (s,) = ann_recall_summary(truth, ivf, k=5).collect()
        assert s.n_queries == 8
        assert s.macro_recall == pytest.approx(1.0)
        assert s.micro_recall == pytest.approx(1.0)
        assert s.frac_perfect == 1.0

        lsh = lsh_topk(emb, queries, k=5, num_planes=4)
        (sl,) = ann_recall_summary(truth, lsh, k=5).collect()
        assert 0.0 <= sl.min_recall <= sl.macro_recall <= 1.0
        assert 0.0 <= sl.micro_recall <= 1.0
    finally:
        truth.unpersist()


def test_ann_recall_plan_is_jvm_only(ann_result_tables):
    """The evaluation join never leaves the JVM and never rescans a
    corpus: no Python evaluators in the physical plan."""
    from dfsql_spark.operators.similarity import ann_recall_report

    truth, approx = ann_result_tables
    plan = ann_recall_report(truth, approx, k=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PythonEval" not in plan and "mapInPandas" not in plan.lower()


# ---------------------------------------------------------------------------
# column_profile (round 11)
# ---------------------------------------------------------------------------


def test_column_profile_matches_duckdb_exact(spark, duck):
    """Exact-NDV profile of lineitem (ints, doubles, strings, a
    timestamp) mirrored column-by-column in DuckDB."""
    from .conftest import SF_DIR, assert_matches_oracle
    from dfsql_spark.operators.checks import column_profile

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = column_profile(df, ndv="exact")

    pieces = []
    for f in df.schema.fields:
        c, dt = f.name, f.dataType.simpleString()
        numeric = dt.startswith(
            ("tinyint", "smallint", "int", "bigint", "float", "double",
             "decimal")
        )
        if numeric:
            mm = (f"min({c})::DOUBLE AS min_num, max({c})::DOUBLE AS max_num,"
                  f" avg({c}::DOUBLE) AS mean,"
                  " NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str")
        else:
            mm = ("NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,"
                  " NULL::DOUBLE AS mean,"
                  f" min({c})::VARCHAR AS min_str,"
                  f" max({c})::VARCHAR AS max_str")
        pieces.append(
            f"SELECT '{c}' AS column, '{dt}' AS dtype,"
            f" count(*) AS n_rows,"
            f" sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_null,"
            f" sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f"   / count(*)::DOUBLE AS null_frac,"
            f" count(DISTINCT {c}) AS n_distinct, {mm} FROM lineitem"
        )
    assert_matches_oracle(
        got, duck.sql(" UNION ALL ".join(pieces)).df(), "column_profile"
    )


def test_column_profile_sum_scale(spark, duck):
    """``sum_scale`` appends an exact-decimal ``sum_num`` (cast to
    double) for numeric columns in BOTH plans — the order-independent
    grading alternative to the double mean — NULL for non-numerics,
    and validates its range."""
    import pytest as _pt

    from .conftest import SF_DIR
    from dfsql_spark.operators.checks import column_profile

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    want = {
        c: v
        for c, v in duck.sql(
            "SELECT 'l_discount', CAST(sum(CAST(l_discount AS"
            " DECIMAL(27,2))) AS DOUBLE) FROM lineitem UNION ALL "
            "SELECT 'l_orderkey', CAST(sum(CAST(l_orderkey AS"
            " DECIMAL(27,2))) AS DOUBLE) FROM lineitem"
        ).fetchall()
    }
    for mode in ("exact", "approx"):
        rows = {
            r.column: r
            for r in column_profile(df, ndv=mode, sum_scale=2).collect()
        }
        # bit-for-bit vs DuckDB: exact decimal sum, one double cast
        assert rows["l_discount"].sum_num == want["l_discount"], mode
        assert rows["l_orderkey"].sum_num == want["l_orderkey"], mode
        assert rows["l_returnflag"].sum_num is None, mode
    # default: no sum_num column at all (schema unchanged)
    assert "sum_num" not in column_profile(df).columns
    with _pt.raises(ValueError, match="sum_scale"):
        column_profile(df, sum_scale=19)


def test_column_profile_edges_and_validation(spark):
    from dfsql_spark.operators.checks import column_profile

    df = spark.createDataFrame(
        [(1, None, True, [1.0]), (2, None, None, None)],
        "k long, dead string, flag boolean, vec array<double>",
    )
    rows = {r.column: r for r in column_profile(df, ndv="exact").collect()}
    # all-NULL string column: ndv 0, NULL ordering stats, null_frac 1
    d = rows["dead"]
    assert (d.n_null, d.null_frac, d.n_distinct) == (2, 1.0, 0)
    assert d.min_str is None and d.max_str is None
    # boolean profiles as 0/1 numerics
    fl = rows["flag"]
    assert (fl.min_num, fl.max_num, fl.mean, fl.n_distinct) == (
        1.0, 1.0, 1.0, 1,
    )
    # complex type: counts only
    v = rows["vec"]
    assert v.n_distinct is None and v.min_num is None and v.min_str is None
    assert (v.n_rows, v.n_null) == (2, 1)
    # column subset preserves order; empty df gives NULL null_frac
    sub = column_profile(df.filter("k < 0"), columns=["flag", "k"]).collect()
    assert [r.column for r in sub] == ["flag", "k"]
    assert sub[0].n_rows == 0 and sub[0].null_frac is None
    with pytest.raises(ValueError):
        column_profile(df, ndv="bogus")
    with pytest.raises(ValueError):
        column_profile(df, columns=["nope"])


def test_column_profile_exact_plan_has_no_expand(spark):
    """The exact audit mode (round-13 plan): a union of per-column
    thin aggregates — one pruned scan per column in one job, NO Expand
    replication of the full-width row, no Python.  Each branch's read
    schema carries exactly its own column."""
    import re

    from .conftest import SF_DIR
    from dfsql_spark.operators.checks import column_profile

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    plan = (
        column_profile(df, ndv="exact")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, plan
    assert "Python" not in plan, plan
    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    n_cols = len(df.columns)
    assert len(schemas) == n_cols, (len(schemas), n_cols)
    assert all(s.count(":") == 1 for s in schemas), schemas  # thin scans


def test_column_profile_approx_is_single_pass(spark):
    """The 100 TB default: one scan, one groupless aggregate, HLL
    state — no Expand multiplication, no Python, and the approx NDV
    lands within the configured error of exact on a known-cardinality
    column."""
    from .conftest import SF_DIR
    from dfsql_spark.operators.checks import column_profile

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    prof = column_profile(df, ndv="approx", rsd=0.02)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "PythonEval" not in plan
    assert plan.count("Scan parquet") == 1
    exact = {
        r.column: r.n_distinct
        for r in column_profile(df, ndv="exact").collect()
    }
    for r in prof.collect():
        assert abs(r.n_distinct - exact[r.column]) <= max(
            3, 0.1 * exact[r.column]
        ), (r.column, r.n_distinct, exact[r.column])


# ---------------------------------------------------------------------------
# source_overlap_matrix (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def overlap_corpus(spark):
    """Three sources with engineered overlap: A∩B = 2 docs (one via a
    whitespace/case variant — normalization must unify it), A∩C = 1,
    B∩C = 0; a within-A duplicate that must NOT inflate counts; a
    NULL-source row that must be excluded; and one blank doc EACH in
    A and B — empty/whitespace text normalizes to '' whose single
    sha2('') identity must NOT register as A↔B overlap (round-11
    advisor)."""
    rows = [
        (1, "A", "alpha document one"),
        (2, "A", "beta document two"),
        (3, "A", "gamma document three"),
        (4, "A", "alpha document one"),          # within-A dup
        (5, "B", "ALPHA   document one"),        # = doc 1 after normalize
        (6, "B", "beta document two"),
        (7, "B", "delta document four"),
        (8, "C", "gamma document three"),
        (9, "C", "epsilon document five"),
        (10, None, "alpha document one"),        # NULL source: excluded
        (11, "A", "   \t\n"),                    # blank: excluded
        (12, "B", ""),                           # empty: excluded
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_source_overlap_matrix_hand_pinned(overlap_corpus):
    from dfsql_spark.operators.dedup import source_overlap_matrix

    got = {
        (r.src_a, r.src_b): r
        for r in source_overlap_matrix(overlap_corpus).collect()
    }
    # complete ordered matrix, diagonal excluded
    assert set(got) == {
        ("A", "B"), ("B", "A"), ("A", "C"), ("C", "A"),
        ("B", "C"), ("C", "B"),
    }
    ab = got[("A", "B")]
    # |A| = 3 distinct hashes (docs 1/4 collapse), 2 shared with B
    assert (ab.n_a, ab.n_b, ab.n_common) == (3, 3, 2)
    assert ab.frac_a_in_b == pytest.approx(2 / 3)
    assert got[("B", "A")].frac_a_in_b == pytest.approx(2 / 3)
    assert got[("A", "C")].n_common == 1
    # zero-overlap pair present with frac 0, not missing
    assert got[("B", "C")].n_common == 0
    assert got[("B", "C")].frac_a_in_b == 0.0
    with pytest.raises(ValueError):
        source_overlap_matrix(overlap_corpus, mode="fuzzy")


def test_source_overlap_matrix_matches_duckdb(overlap_corpus, duck):
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.dedup import source_overlap_matrix

    duck.register("overlap_pd", overlap_corpus.toPandas())
    mirror = """
        WITH d AS (
            SELECT DISTINCT source AS src,
                   substr(sha256(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g'))), 1, 32) AS h
            FROM overlap_pd
            WHERE source IS NOT NULL
              AND length(trim(regexp_replace(lower(text),
                      '\\s+', ' ', 'g'))) > 0
        ), sizes AS (
            SELECT src, count(*) AS n FROM d GROUP BY src
        ), common AS (
            SELECT a.src AS sa, b.src AS sb, count(*) AS nc
            FROM d a JOIN d b USING (h)
            WHERE a.src <> b.src
            GROUP BY a.src, b.src
        )
        SELECT x.src AS src_a, y.src AS src_b,
               x.n AS n_a, y.n AS n_b,
               coalesce(common.nc, 0) AS n_common,
               coalesce(common.nc, 0) / x.n::DOUBLE AS frac_a_in_b
        FROM sizes x
        JOIN sizes y ON x.src <> y.src
        LEFT JOIN common ON common.sa = x.src AND common.sb = y.src
    """
    assert_matches_oracle(
        source_overlap_matrix(overlap_corpus),
        duck.sql(mirror).df(),
        "source_overlap_matrix",
    )


def test_source_overlap_matrix_minhash_vs_exact(overlap_corpus):
    """Exact duplicates share every MinHash band, so the minhash mode
    must find at least the exact-mode overlaps on this corpus; its
    denominators count DOCS (4 in A, incl. the within-A dup), and
    fractions stay in [0, 1]."""
    from dfsql_spark.operators.dedup import source_overlap_matrix

    mh = {
        (r.src_a, r.src_b): r
        for r in source_overlap_matrix(
            overlap_corpus, mode="minhash", threshold=0.9
        ).collect()
    }
    assert mh[("A", "B")].n_a == 4  # doc-count denominator
    # docs 1 AND 4 (both = doc 5 after normalize) have a neighbor in B,
    # doc 2 = doc 6: at least the 3 exact-duplicate docs are found
    assert mh[("A", "B")].n_common >= 3
    assert mh[("A", "C")].n_common >= 1
    for r in mh.values():
        assert 0.0 <= r.frac_a_in_b <= 1.0
        assert r.n_common <= r.n_a


def test_remove_duplicate_lines_paragraph_unit(spark):
    """The Dolma-style PARAGRAPH dedup recipe is `sep="\\n\\n"`: blocks
    split on blank lines collapse corpus-wide, newlines inside a
    paragraph are preserved, and reassembly uses the same separator."""
    from dfsql_spark.operators.dedup import remove_duplicate_lines

    boiler = "subscribe now\nall rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"intro one\nstill intro\n\n{boiler}"),
            (2, f"{boiler}\n\nbody two"),
            (3, f"body three\n\n{boiler}\n\nmore three"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_lines(docs, sep="\n\n").collect()
    }
    # doc 1 holds the first (doc_id, pos) occurrence of the boilerplate
    assert out[1].text == f"intro one\nstill intro\n\n{boiler}"
    assert out[2].text == "body two"
    assert out[3].text == "body three\n\nmore three"
    assert (out[3].n_lines, out[3].n_kept) == (3, 2)


# ---------------------------------------------------------------------------
# tfidf_top_terms (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tfidf_corpus(spark):
    """Small corpus with a corpus-wide boilerplate term ('the' in every
    doc), repeated terms inside one doc, a rare discriminative term,
    a NULL document, and a tie that only the (score desc, term asc)
    rule breaks."""
    rows = [
        (1, "the cat cat cat sat"),
        (2, "the dog sat sat"),
        (3, "the bird flew away quickly"),
        (4, "the zebra apple"),  # zebra/apple: equal tf AND df -> tie
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_top_terms_hand_pinned(tfidf_corpus):
    import math

    from dfsql_spark.operators.text import tfidf_top_terms

    out = tfidf_top_terms(tfidf_corpus, top_k=2)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    # doc 1: 'cat' tf=3 df=1 dominates
    top1 = rows[(1, 1)]
    assert (top1.term, top1.tf, top1.df_t) == ("cat", 3, 1)
    assert top1.score == pytest.approx(3 * (math.log(6 / 2) + 1))
    # doc 4 tie: apple before zebra (term asc)
    assert rows[(4, 1)].term == "apple" and rows[(4, 2)].term == "zebra"
    # NULL doc produces no terms
    assert not [k for k in rows if k[0] == 5]
    # max_df_frac drops the everywhere-term 'the' (df 4/5 docs)
    no_boiler = tfidf_top_terms(tfidf_corpus, top_k=5, max_df_frac=0.7)
    assert not [r for r in no_boiler.collect() if r.term == "the"]
    # min_df keeps only terms in >= 2 docs
    common = tfidf_top_terms(tfidf_corpus, top_k=5, min_df=2)
    assert {r.term for r in common.collect()} <= {"the", "sat"}
    with pytest.raises(ValueError):
        tfidf_top_terms(tfidf_corpus, top_k=0)
    with pytest.raises(ValueError):
        tfidf_top_terms(tfidf_corpus, min_df=0)
    with pytest.raises(ValueError):
        tfidf_top_terms(tfidf_corpus, max_df_frac=0.0)


def test_tfidf_top_terms_matches_duckdb(docs, duck):
    """Exact mirror on the real documents table (sklearn smooth-idf
    formulation, same tokenizer mirror as lm_score, same tie-break)."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import tfidf_top_terms

    mirror = """
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                x -> x <> '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, count(*) AS df_t FROM tf GROUP BY term
        ), n AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
                   tf.tf * (ln((1 + n.n) / (1 + df_t)::DOUBLE) + 1.0)
                       AS score
            FROM tf, dfreq, n
            WHERE tf.term = dfreq.term
              AND df_t >= 2 AND df_t <= 0.5 * n.n
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
            ) AS rank
            FROM scored
        )
        SELECT doc_id, term, tf, df_t, score, rank
        FROM ranked WHERE rank <= 3
    """
    assert_matches_oracle(
        tfidf_top_terms(docs, top_k=3, min_df=2, max_df_frac=0.5),
        duck.sql(mirror).df(),
        "tfidf_top_terms",
    )


def test_length_histogram_hand_pinned_and_strata(spark):
    from dfsql_spark.operators.text import length_histogram

    df = spark.createDataFrame(
        [
            (1, "A", "one two three"),            # 3 tokens -> bucket 0
            (2, "A", " ".join(["w"] * 5)),        # 5 tokens -> bucket 1
            (3, "B", None),                       # NULL -> 0 -> bucket 0
            (4, "B", " ".join(["w"] * 4)),        # 4 tokens -> bucket 1
        ],
        "doc_id long, source string, text string",
    )
    flat = {r.bucket: r for r in length_histogram(df, bucket_width=4).collect()}
    assert (flat[0].n_docs, flat[1].n_docs) == (2, 2)
    assert (flat[0].lo, flat[0].hi, flat[1].lo, flat[1].hi) == (0, 3, 4, 7)
    assert flat[0].frac == 0.5 and flat[1].frac == 0.5
    strat = {
        (r.stratum, r.bucket): r
        for r in length_histogram(
            df, bucket_width=4, stratum_col="source"
        ).collect()
    }
    # fractions are within-stratum
    assert strat[("A", 0)].frac == 0.5 and strat[("B", 1)].frac == 0.5
    chars = {
        r.bucket: r.n_docs
        for r in length_histogram(df, unit="chars", bucket_width=10).collect()
    }
    # NULL (0 chars), 'w w w w' (7), 'w w w w w' (9); doc 1 is 13 chars
    assert chars[0] == 3 and chars[1] == 1
    with pytest.raises(ValueError):
        length_histogram(df, bucket_width=0)
    with pytest.raises(ValueError):
        length_histogram(df, unit="bytes")


def test_length_histogram_matches_duckdb(docs, duck):
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import length_histogram

    mirror = """
        WITH lens AS (
            SELECT lang, len(list_filter(
                regexp_split_to_array(coalesce(text, ''), '\\s+'),
                x -> x <> '')) AS n
            FROM documents
        ), hist AS (
            SELECT lang AS stratum, n // 32 AS bucket,
                   count(*) AS n_docs
            FROM lens GROUP BY lang, n // 32
        )
        SELECT stratum, bucket, bucket * 32 AS lo,
               (bucket + 1) * 32 - 1 AS hi, n_docs,
               n_docs / sum(n_docs) OVER (PARTITION BY stratum)::DOUBLE
                   AS frac
        FROM hist
    """
    assert_matches_oracle(
        length_histogram(docs, bucket_width=32, stratum_col="lang"),
        duck.sql(mirror).df(),
        "length_histogram",
    )


# ---------------------------------------------------------------------------
# encoding_signals (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mojibake_corpus(spark):
    import pandas as pd

    repl = chr(0xFFFD)
    rows = [
        (1, "perfectly clean text"),
        (2, f"half broken {repl}{repl} decode {repl}"),
        (3, "binary\x00junk\x07here"),
        (4, "tabs\tand\nnewlines\rare fine"),
        (5, None),
        (6, ""),
        (7, "del char \x7f inside"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_encoding_signals_hand_pinned(mojibake_corpus):
    from dfsql_spark.operators.text import encoding_signals

    out = {r.doc_id: r for r in encoding_signals(mojibake_corpus).collect()}
    assert out[1].keep and out[1].replacement_frac == 0.0
    # doc 2: 3 replacement chars
    assert out[2].replacement_frac == pytest.approx(3 / out[2].n_chars)
    assert not out[2].keep
    # doc 3: NUL + BEL — null byte flagged, control_frac counts both
    assert out[3].has_null_byte and not out[3].keep
    assert out[3].control_frac == pytest.approx(2 / out[3].n_chars)
    # tab/LF/CR are NOT control junk
    assert out[4].control_frac == 0.0 and out[4].keep
    # NULL and empty text: zero fractions, kept
    for d in (5, 6):
        assert out[d].n_chars == 0 and out[d].keep
        assert out[d].replacement_frac == 0.0
    # DEL counts as control
    assert out[7].control_frac > 0 and not out[7].keep
    # loose thresholds flip the keep decision
    loose = {
        r.doc_id: r
        for r in encoding_signals(
            mojibake_corpus,
            max_replacement_frac=0.5,
            max_control_frac=0.5,
        ).collect()
    }
    assert loose[2].keep and loose[7].keep
    assert not loose[3].keep  # null byte still fatal


def test_encoding_signals_matches_duckdb(mojibake_corpus, duck):
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import encoding_signals

    duck.register("moji_pd", mojibake_corpus.toPandas())
    repl = chr(0xFFFD)
    mirror = f"""
        WITH base AS (
            SELECT doc_id, coalesce(text, '') AS t FROM moji_pd
        ), counts AS (
            SELECT doc_id, length(t) AS n_chars,
                   length(t) - length(replace(t, '{repl}', '')) AS n_repl,
                   length(t) - length(regexp_replace(t,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
                       AS n_ctrl,
                   contains(t, chr(0)) AS has_null_byte
            FROM base
        )
        SELECT doc_id, n_chars,
               CASE WHEN n_chars > 0 THEN n_repl / n_chars::DOUBLE
                    ELSE 0.0 END AS replacement_frac,
               CASE WHEN n_chars > 0 THEN n_ctrl / n_chars::DOUBLE
                    ELSE 0.0 END AS control_frac,
               has_null_byte,
               (CASE WHEN n_chars > 0 THEN n_repl / n_chars::DOUBLE
                     ELSE 0.0 END) <= 0.0
               AND (CASE WHEN n_chars > 0 THEN n_ctrl / n_chars::DOUBLE
                         ELSE 0.0 END) <= 0.001
               AND NOT has_null_byte AS keep
        FROM counts
    """
    assert_matches_oracle(
        encoding_signals(mojibake_corpus),
        duck.sql(mirror).df(),
        "encoding_signals",
    )


def test_encoding_signals_plan_is_map_only(mojibake_corpus):
    from dfsql_spark.operators.text import encoding_signals

    plan = encoding_signals(mojibake_corpus)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan and "PythonEval" not in plan


def test_ann_recall_fuzz_vs_numpy_reference(spark):
    """Random result tables vs an independent pure-Python reference:
    same per-query recall for every generated configuration (duplicate
    rows, over-k ranks, disjoint query sets, empty approx)."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.similarity import ann_recall_report

    k = 3
    row = st.tuples(
        st.integers(0, 4),   # query_id
        st.integers(0, 9),   # neighbor_id
        st.integers(1, 5),   # rank (can exceed k)
    )
    tables = st.tuples(
        st.lists(row, min_size=1, max_size=25),
        st.lists(row, min_size=0, max_size=25),
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(tables)
    def inner(tt):
        t_rows, a_rows = tt
        truth = spark.createDataFrame(
            pd.DataFrame(t_rows, columns=["query_id", "neighbor_id", "rank"])
        )
        approx = spark.createDataFrame(
            pd.DataFrame(
                a_rows or [(99, 99, 9)],  # empty frames lack a schema
                columns=["query_id", "neighbor_id", "rank"],
            )
        )
        got = {
            r.query_id: (r.n_truth, r.n_approx, r.n_hit, r.recall)
            for r in ann_recall_report(truth, approx, k=k).collect()
        }
        # independent reference: plain set arithmetic
        tset, aset = {}, {}
        for q, n, r in t_rows:
            if r <= k:
                tset.setdefault(q, set()).add(n)
        for q, n, r in (a_rows or [(99, 99, 9)]):
            if r <= k:
                aset.setdefault(q, set()).add(n)
        want = {
            q: (
                len(ts),
                len(aset.get(q, set())),
                len(ts & aset.get(q, set())),
                len(ts & aset.get(q, set())) / len(ts),
            )
            for q, ts in tset.items()
        }
        assert got == want

    inner()


# ---------------------------------------------------------------------------
# collapse_repeated_blocks (round 11)
# ---------------------------------------------------------------------------


def test_collapse_repeated_blocks_hand_pinned(spark):
    from dfsql_spark.operators.text import collapse_repeated_blocks

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now limited offer"),
            (2, "a a b a a b"),                     # multi-scale
            (3, "no repeats at all here"),
            (4, None),
            (5, "la la la la la la la la"),
            (6, "x y z x y z"),                     # block of 3
            (7, "tabs\t\tand   spaces collapse"),   # ws normalization
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in collapse_repeated_blocks(df).collect()}
    assert out[1].text == "buy now limited offer"
    assert (out[1].n_tokens_before, out[1].n_tokens_after) == (8, 4)
    assert out[2].text == "a b"
    assert out[3].text == "no repeats at all here"
    assert out[4].text == "" and out[4].n_tokens_before == 0
    assert out[5].text == "la"
    assert out[6].text == "x y z"
    assert out[7].text == "tabs and spaces collapse"
    # block longer than max_block_tokens is NOT collapsed
    long = spark.createDataFrame(
        [(1, "p q r s p q r s")], "doc_id long, text string"
    )
    kept = collapse_repeated_blocks(long, max_block_tokens=3).collect()[0]
    assert kept.text == "p q r s p q r s"
    full = collapse_repeated_blocks(long, max_block_tokens=4).collect()[0]
    assert full.text == "p q r s"
    with pytest.raises(ValueError):
        collapse_repeated_blocks(df, max_block_tokens=0)


def test_collapse_repeated_blocks_fuzz_vs_regex_reference(spark):
    """Fixpoint equivalence against an INDEPENDENT regex-backreference
    implementation of the same pass order, plus idempotence, on random
    small-alphabet token streams (small alphabets maximize repeats)."""
    import re

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import collapse_repeated_blocks

    max_b = 3
    pats = [
        re.compile(r"(?<!\S)((?:\S+ ){%d}\S+)(?: \1)+(?!\S)" % (b - 1))
        for b in range(1, max_b + 1)
    ]

    def ref(text):
        s = " ".join((text or "").split())
        changed = True
        while changed:
            changed = False
            for pat in pats:
                new = pat.sub(r"\1", s)
                if new != s:
                    s, changed = new, True
        return s

    texts = st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=14).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts)
    def inner(ts):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(ts)), "text": ts})
        )
        once = collapse_repeated_blocks(df, max_block_tokens=max_b)
        got = {r.doc_id: r.text for r in once.collect()}
        assert got == {i: ref(t) for i, t in enumerate(ts)}
        # idempotence: running again changes nothing
        twice = collapse_repeated_blocks(once, max_block_tokens=max_b)
        assert {r.doc_id: r.text for r in twice.collect()} == got

    inner()


# ---------------------------------------------------------------------------
# html_to_text (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def html_corpus(spark):
    rows = [
        (1, "<html><head><title>My &amp; Page</title>"
            "<style>p{color:red}</style></head><body>"
            "<h1>Header</h1><p>First para with <b>bold</b> text.</p>"
            "<script>var x = '<p>not text</p>';</script>"
            "<p>Second&nbsp;para &lt;escaped&gt;.</p>"
            "<!-- a comment --><div>List:<ul><li>one</li>"
            "<li>two</li></ul></div></body></html>"),
        (2, "plain text, no markup"),
        (3, None),
        (4, "<P CLASS='x'>upper-case   tags<BR>and spacing</P>"),
        (5, "<body>&amp;lt; decodes ONE level</body>"),
        (6, "<title></title>no title here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, html string")


def test_html_to_text_hand_pinned(html_corpus):
    from dfsql_spark.operators.web import html_to_text

    out = {r.doc_id: r for r in html_to_text(html_corpus).collect()}
    t1 = out[1].text
    assert "Header" in t1 and "First para with bold text." in t1
    # script/style/comment contents are GONE
    assert "not text" not in t1 and "color:red" not in t1
    assert "comment" not in t1
    # entities decoded; nbsp became a plain space
    assert "Second para <escaped>." in t1
    # block structure became line structure (one line per block)
    assert "one\ntwo" in t1
    assert "\n\n" not in t1 and not t1.startswith("\n")
    assert not t1.endswith("\n")
    assert out[1].title == "My & Page"
    assert out[2].text == "plain text, no markup" and out[2].title is None
    assert out[3].text is None and out[3].title is None
    assert out[4].text == "upper-case tags\nand spacing"
    # &amp;lt; decodes exactly one level
    assert out[5].text == "&lt; decodes ONE level"
    assert out[6].title is None
    # title_col=None skips the column
    assert "title" not in html_to_text(html_corpus, title_col=None).columns


def test_html_to_text_matches_duckdb(html_corpus, duck):
    """The whole extraction chain (drop blocks, block tags -> newline,
    strip tags, entity set, whitespace canon) re-spelled in DuckDB
    from the SAME exported regex constants."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.web import (
        HTML_BLOCK_RE,
        HTML_DROP_RE,
        HTML_ENTITIES,
        HTML_TAG_RE,
        html_to_text,
    )

    duck.register("html_pd", html_corpus.toPandas())
    expr = f"regexp_replace(html, '{HTML_DROP_RE}', ' ', 'gs')"
    expr = f"regexp_replace({expr}, '{HTML_BLOCK_RE}', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '{HTML_TAG_RE}', ' ', 'gs')"
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{lit}')"
    expr = f"regexp_replace({expr}, '[ \\t\\f\\x0B]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\\n[ \\n]*', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '^[ \\n]+|[ \\n]+$', '', 'g')"
    assert_matches_oracle(
        html_to_text(html_corpus, title_col=None).select("doc_id", "text"),
        duck.sql(f"SELECT doc_id, {expr} AS text FROM html_pd").df(),
        "html_to_text",
    )


def test_html_to_text_plan_is_map_only(html_corpus):
    """Also pins the embed-in-wider-select contract of the raw
    expressions (html_text_expr / html_title_expr)."""
    from dfsql_spark.operators.web import (
        html_text_expr,
        html_title_expr,
        html_to_text,
    )

    plan = html_to_text(html_corpus)._jdf.queryExecution().executedPlan(
    ).toString()
    assert "Exchange" not in plan and "PythonEval" not in plan
    # raw expressions compose into one projection, same results
    composed = html_corpus.select(
        "doc_id",
        html_text_expr("html").alias("text"),
        html_title_expr("html").alias("title"),
    )
    assert sorted(map(tuple, composed.collect())) == sorted(
        map(tuple, html_to_text(html_corpus).select(
            "doc_id", "text", "title"
        ).collect())
    )


# ---------------------------------------------------------------------------
# schema_drift_report (round 11)
# ---------------------------------------------------------------------------


def test_schema_drift_report_hand_pinned(spark):
    from dfsql_spark.operators.versioning import schema_drift_report

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)],
        "id long, tag string, score double",
    )
    new = spark.createDataFrame(
        [(1, 10, None, "x"), (2, 20, None, "y")],
        "id long, tag int, score double, extra string",
    )
    rows = {
        r.column: r
        for r in schema_drift_report(old, new, ndv="exact").collect()
    }
    assert rows["extra"].status == "added"
    assert rows["extra"].dtype_old is None and rows["extra"].ndv_old is None
    assert rows["id"].status == "common" and not rows["id"].dtype_changed
    # tag: string -> int re-encode is flagged
    assert rows["tag"].dtype_changed
    # null_frac drift: tag 1/3 -> 0/2
    assert rows["tag"].null_frac_delta == pytest.approx(0 - 1 / 3)
    # score nulled out entirely: delta +1, ndv 3 -> 0
    assert rows["score"].null_frac_delta == pytest.approx(1.0)
    assert (rows["score"].ndv_old, rows["score"].ndv_new) == (3, 0)
    assert rows["score"].ndv_ratio == 0.0
    assert rows["score"].mean_old == pytest.approx(2.0)
    assert rows["score"].mean_new is None
    # id mean drift 2.0 -> 1.5
    assert rows["id"].mean_delta == pytest.approx(-0.5)
    # removed column: drop 'tag' from new entirely
    rem = {
        r.column: r.status
        for r in schema_drift_report(
            old, new.select("id", "score"), ndv="exact"
        ).collect()
    }
    assert rem["tag"] == "removed"


def test_schema_drift_report_identical_snapshots_are_quiet(spark):
    """Self-drift is the zero report: every column common, nothing
    changed, all deltas 0, ndv_ratio 1 — the property oracle."""
    from .conftest import SF_DIR
    from dfsql_spark.operators.versioning import schema_drift_report

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    for r in schema_drift_report(df, df, ndv="exact").collect():
        assert r.status == "common" and not r.dtype_changed
        assert r.null_frac_delta == 0.0
        assert r.ndv_ratio == pytest.approx(1.0) or r.ndv_old == 0
        assert r.mean_delta == 0.0 or r.mean_delta is None


def _psi_reference(old_vals, new_vals, bins=10, top_k=20, eps=1e-6):
    """Independent plain-Python PSI: numeric equal-width bins from the
    old values (clamped), or categorical top-k pooling, NULL its own
    bucket — the distribution_drift contract re-spelled from scratch."""
    import math
    from collections import Counter

    def _is_null(v):
        return v is None or (isinstance(v, float) and v != v)

    numeric = any(
        isinstance(v, (int, float)) and not _is_null(v)
        for v in old_vals + new_vals
    )

    def bucket_of(v, lo, width):
        if v is None or (isinstance(v, float) and v != v):  # None/NaN
            return "__null__"
        if lo is None or not width or width <= 0:
            return "b0"
        return f"b{min(max(math.floor((float(v) - lo) / width), 0), bins - 1)}"

    if numeric:
        nn = [float(v) for v in old_vals if not _is_null(v)]
        lo = min(nn) if nn else None
        width = ((max(nn) - lo) / bins) if nn else None
        ob = Counter(bucket_of(v, lo, width) for v in old_vals)
        nb = Counter(bucket_of(v, lo, width) for v in new_vals)
    else:
        heads = [
            v for v, _ in sorted(
                Counter(v for v in old_vals if not _is_null(v)).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[:top_k]
        ]

        def cat(v):
            # "v:" prefix mirrors the operator's collision-proof
            # labels: a literal "__null__"/"__other__" data value
            # must stay its own bucket (advisor r13)
            if _is_null(v):
                return "__null__"
            return f"v:{v}" if v in heads else "__other__"

        ob = Counter(cat(v) for v in old_vals)
        nb = Counter(cat(v) for v in new_vals)
    to, tn = sum(ob.values()), sum(nb.values())
    psi = 0.0
    for b in set(ob) | set(nb):
        p = max(ob.get(b, 0) / to, eps)
        q = max(nb.get(b, 0) / tn, eps)
        psi += (q - p) * math.log(q / p)
    return round(psi, 6)


def test_distribution_drift_hand_pinned(spark):
    """PSI against the independent reference on an engineered shift:
    a numeric column whose mass moves up-range, a categorical column
    with a vanishing head value and a new NULL stripe; identical
    snapshots give exactly 0; validation rejects bad params."""
    import pandas as pd

    from dfsql_spark.operators.versioning import distribution_drift

    old = pd.DataFrame(
        {
            "score": [1.0, 1.0, 2.0, 2.0, 3.0, 9.0, None, 5.0],
            "lang": ["en", "en", "en", "de", "de", "fr", "fr", None],
        }
    )
    new = pd.DataFrame(
        {
            "score": [8.0, 8.0, 9.0, 9.0, 9.0, 1.0, 12.0, -3.0],  # clamps
            "lang": ["en", "de", "de", "de", None, None, None, "it"],
        }
    )
    so, sn = spark.createDataFrame(old), spark.createDataFrame(new)
    out = {r.column: r for r in distribution_drift(so, sn, bins=4, top_k=2).collect()}
    assert out["score"].kind == "numeric"
    assert out["lang"].kind == "categorical"
    assert out["score"].psi == _psi_reference(
        list(old["score"]), list(new["score"]), bins=4
    )
    assert out["lang"].psi == _psi_reference(
        [v if isinstance(v, str) else None for v in old["lang"]],
        [v if isinstance(v, str) else None for v in new["lang"]],
        top_k=2,
    )
    assert out["score"].null_frac_old == 1 / 8 and out["score"].null_frac_new == 0.0
    assert out["lang"].null_frac_new == 3 / 8
    # self-drift is exactly zero (p == q in every bucket)
    for r in distribution_drift(so, so, bins=4, top_k=2).collect():
        assert r.psi == 0.0, r
    with pytest.raises(ValueError, match="bins"):
        distribution_drift(so, sn, bins=1)
    with pytest.raises(ValueError, match="columns not in both"):
        distribution_drift(so, sn, numeric_cols=["nope"])


def test_distribution_drift_matches_duckdb(spark, duck):
    """Exact DuckDB mirror of the full construction over documents:
    old = the corpus, new = the x04-style deterministic mutation
    (drop doc_id % 97, text-length shifts via the n_chars column,
    source re-mix) — equal-width n_chars bins from OLD min/max,
    top-3 source pooling, eps-floored PSI, round 6."""
    import pyspark.sql.functions as F

    from .conftest import SF_DIR, assert_matches_oracle
    from dfsql_spark.operators.versioning import distribution_drift

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 3 == 0, F.col("n_chars") * 2).otherwise(
                F.col("n_chars")
            ),
        )
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 5 == 0, F.lit("srcX")).otherwise(
                F.col("source")
            ),
        )
    )
    got = distribution_drift(
        docs, new, numeric_cols=["n_chars"], categorical_cols=["source"],
        bins=10, top_k=3,
    )
    mirror = """
        WITH newsnap AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN n_chars * 2
                        ELSE n_chars END AS n_chars,
                   CASE WHEN doc_id % 5 = 0 THEN 'srcX' ELSE source END
                       AS source
            FROM documents WHERE doc_id % 97 <> 0
        ), edges AS (
            SELECT min(n_chars)::DOUBLE AS lo,
                   (max(n_chars)::DOUBLE - min(n_chars)::DOUBLE) / 10.0
                       AS width
            FROM documents
        ), heads AS (
            SELECT source AS v FROM documents WHERE source IS NOT NULL
            GROUP BY source ORDER BY count(*) DESC, source ASC LIMIT 3
        ), bo AS (
            SELECT 'n_chars' AS "column",
                   CASE WHEN n_chars IS NULL THEN '__null__'
                        ELSE 'b' || CAST(least(greatest(CAST(floor(
                            (n_chars::DOUBLE - lo) / width) AS INT), 0), 9)
                            AS VARCHAR) END AS bucket,
                   count(*) AS n FROM documents, edges GROUP BY 1, 2
            UNION ALL
            SELECT 'source',
                   CASE WHEN source IS NULL THEN '__null__'
                        WHEN source IN (SELECT v FROM heads)
                            THEN 'v:' || source
                        ELSE '__other__' END,
                   count(*) FROM documents GROUP BY 1, 2
        ), bn AS (
            SELECT 'n_chars' AS "column",
                   CASE WHEN n_chars IS NULL THEN '__null__'
                        ELSE 'b' || CAST(least(greatest(CAST(floor(
                            (n_chars::DOUBLE - lo) / width) AS INT), 0), 9)
                            AS VARCHAR) END AS bucket,
                   count(*) AS n FROM newsnap, edges GROUP BY 1, 2
            UNION ALL
            SELECT 'source',
                   CASE WHEN source IS NULL THEN '__null__'
                        WHEN source IN (SELECT v FROM heads)
                            THEN 'v:' || source
                        ELSE '__other__' END,
                   count(*) FROM newsnap GROUP BY 1, 2
        ), h AS (
            SELECT coalesce(bo."column", bn."column") AS "column",
                   coalesce(bo.bucket, bn.bucket) AS bucket,
                   coalesce(bo.n, 0) AS n_old, coalesce(bn.n, 0) AS n_new
            FROM bo FULL OUTER JOIN bn
              ON bo."column" = bn."column" AND bo.bucket = bn.bucket
        ), t AS (
            SELECT "column", sum(n_old) AS t_old, sum(n_new) AS t_new
            FROM h GROUP BY "column"
        )
        SELECT h."column",
               CASE h."column" WHEN 'n_chars' THEN 'numeric'
                    ELSE 'categorical' END AS kind,
               round(sum((greatest(n_new / t_new::DOUBLE, 1e-6)
                          - greatest(n_old / t_old::DOUBLE, 1e-6))
                         * ln(greatest(n_new / t_new::DOUBLE, 1e-6)
                              / greatest(n_old / t_old::DOUBLE, 1e-6))),
                     6) AS psi,
               CAST(count(*) AS INT) AS n_buckets,
               coalesce(sum(CASE WHEN bucket = '__null__' THEN n_old END)
                        / max(t_old)::DOUBLE, 0.0) AS null_frac_old,
               coalesce(sum(CASE WHEN bucket = '__null__' THEN n_new END)
                        / max(t_new)::DOUBLE, 0.0) AS null_frac_new
        FROM h JOIN t ON h."column" = t."column"
        GROUP BY h."column"
    """
    assert_matches_oracle(got, duck.sql(mirror).df(), "distribution_drift")


def test_distribution_drift_fuzz_vs_reference(spark):
    """Random paired numeric samples (hypothesis) against the
    independent PSI: edge-bucket clamping, constant old columns,
    all-NULL stripes, one-sided empty buckets (the epsilon floor)."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.versioning import distribution_drift

    vals = st.lists(
        st.one_of(st.none(), st.integers(min_value=-6, max_value=6)),
        min_size=1,
        max_size=20,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(vals, vals)
    def inner(old_vals, new_vals):
        so = spark.createDataFrame(
            pd.DataFrame({"x": pd.array(old_vals, dtype="Int64")})
        )
        sn = spark.createDataFrame(
            pd.DataFrame({"x": pd.array(new_vals, dtype="Int64")})
        )
        (r,) = distribution_drift(so, sn, numeric_cols=["x"], bins=5).collect()
        want = _psi_reference(old_vals, new_vals, bins=5)
        assert r.psi == pytest.approx(want, abs=1e-9), (old_vals, new_vals)

    inner()

    # categorical: tiny alphabet forces top-k tie-breaks, pooled
    # __other__ mass, and one-sided categories; the LITERAL sentinel
    # strings are in the alphabet so the fuzz itself catches a
    # sentinel-bucket merge (advisor r13: before the 'v:' labels,
    # engine and references shared the collision so no test could see
    # it — the updated _psi_reference distinguishes them by
    # construction, making this fuzz collision-sensitive)
    cats = st.lists(
        st.one_of(
            st.none(),
            st.sampled_from(["a", "b", "c", "d", "", "__null__", "__other__"]),
        ),
        min_size=1,
        max_size=20,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(cats, cats)
    def inner_cat(old_vals, new_vals):
        so = spark.createDataFrame(
            pd.DataFrame({"x": pd.array(old_vals, dtype="string")})
        )
        sn = spark.createDataFrame(
            pd.DataFrame({"x": pd.array(new_vals, dtype="string")})
        )
        (r,) = distribution_drift(
            so, sn, categorical_cols=["x"], top_k=2
        ).collect()
        want = _psi_reference(old_vals, new_vals, top_k=2)
        assert r.psi == pytest.approx(want, abs=1e-9), (old_vals, new_vals)

    inner_cat()


def test_distribution_drift_plan_no_corpus_shuffle(spark):
    """The corpus reaches only the generate -> map-side-combined
    (column, bucket) count; no Python anywhere; the numeric edges ride
    a broadcast, never a collect."""
    from .conftest import SF_DIR
    from dfsql_spark.operators.versioning import distribution_drift

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        distribution_drift(
            docs, docs, numeric_cols=["n_chars"], categorical_cols=["source"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine before the shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_distribution_drift_sentinel_collision_and_empty(spark):
    """Advisor r13: data that literally contains the strings
    '__null__'/'__other__' must NOT merge into the sentinel buckets
    (real values ride a 'v:' prefix internally), and an empty snapshot
    on either side raises instead of returning a NULL psi a monitor
    would read as 'no drift'."""
    import pandas as pd

    from dfsql_spark.operators.versioning import distribution_drift

    old_vals = ["__null__", "__null__", "__other__", "a", None]
    new_vals = ["__null__", "a", "a", "rare", None]
    so = spark.createDataFrame(pd.DataFrame({"x": pd.array(old_vals, dtype="string")}))
    sn = spark.createDataFrame(pd.DataFrame({"x": pd.array(new_vals, dtype="string")}))
    (r,) = distribution_drift(so, sn, categorical_cols=["x"], top_k=2).collect()
    # the independent reference distinguishes literal sentinels from
    # real NULLs / pooled tail by construction
    assert r.psi == pytest.approx(
        _psi_reference(old_vals, new_vals, top_k=2), abs=1e-9
    )
    # null fractions count REAL NULLs only, not the literal strings
    assert r.null_frac_old == pytest.approx(1 / 5)
    assert r.null_frac_new == pytest.approx(1 / 5)
    # buckets: v:__null__, v:__other__, __other__(pooled a/rare), __null__
    assert r.n_buckets == 4
    empty = so.filter("x = 'nope'")
    with pytest.raises(ValueError, match="old.*empty"):
        distribution_drift(empty, sn, categorical_cols=["x"])
    with pytest.raises(ValueError, match="new.*empty"):
        distribution_drift(so, empty, categorical_cols=["x"])


def test_distribution_drift_int_categorical_string_tiebreak(spark):
    """Documented semantics for NON-string categorical columns: heads
    are selected and tie-broken on the STRING cast ('10' < '2'), and
    bucket membership uses the same cast, so the head set and PSI are
    deterministic — pinned so the behavior is a contract, not an
    accident of the batched head job."""
    import pandas as pd

    from dfsql_spark.operators.versioning import distribution_drift

    # counts: 2 x [1], 2 x [10], 1 x [3] -> tie between 1 and 10 at
    # top_k=1 is broken on strings: '1' < '10', head = {1}
    old = pd.DataFrame({"x": [1, 1, 10, 10, 3]})
    new = pd.DataFrame({"x": [1, 10, 10, 10, 3]})
    so, sn = spark.createDataFrame(old), spark.createDataFrame(new)
    (r,) = distribution_drift(so, sn, categorical_cols=["x"], top_k=1).collect()
    want = _psi_reference(
        [str(v) for v in old["x"]], [str(v) for v in new["x"]], top_k=1
    )
    assert r.psi == pytest.approx(want, abs=1e-9)
    # buckets: v:1 (head) + __other__ (10 and 3 pooled)
    assert r.n_buckets == 2


def test_distribution_drift_head_collection_is_one_job(spark):
    """Verdict r13 ask #4: the categorical reference heads are ONE
    Spark job regardless of how many string columns are profiled (the
    old code looped a TakeOrdered collect per column — a serial driver
    round-trip per column, a latency cliff on 200-column schemas)."""
    import pandas as pd

    from dfsql_spark.operators.versioning import distribution_drift

    n = 40
    cols = {f"c{i}": [f"x{j % (i + 2)}" for j in range(n)] for i in range(6)}
    pdf = pd.DataFrame(cols)
    so = spark.createDataFrame(pdf).coalesce(1)
    sn = spark.createDataFrame(pdf).coalesce(1)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during_construction(cats, group):
        sc.setJobGroup(group, "head-batch pin")
        try:
            distribution_drift(so, sn, numeric_cols=[], categorical_cols=cats)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    one = jobs_during_construction(["c0"], "dd_heads_one")
    many = jobs_during_construction([f"c{i}" for i in range(6)], "dd_heads_many")
    # construction-time jobs = isEmpty(old) + isEmpty(new) + ONE head
    # collect — independent of the categorical column count
    assert many == one, (one, many)


def test_column_profile_fuzz_vs_pandas_reference(spark):
    """Exact-NDV profiles of random mixed-type frames against an
    independent pandas computation (nulls, NDV, min/max/mean)."""
    import math

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.checks import column_profile

    frames = st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-5, 5)),
            st.one_of(st.none(), st.sampled_from(["a", "b", "c", ""])),
            st.one_of(st.none(), st.floats(-2.0, 2.0, allow_nan=False)),
        ),
        min_size=1,
        max_size=20,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(frames)
    def inner(rows):
        df = spark.createDataFrame(rows, "i long, s string, f double")
        got = {
            r.column: r for r in column_profile(df, ndv="exact").collect()
        }
        pdf = pd.DataFrame(rows, columns=["i", "s", "f"])
        for c in pdf.columns:
            col, want = got[c], pdf[c]
            assert col.n_rows == len(pdf)
            assert col.n_null == int(want.isna().sum())
            assert col.n_distinct == want.nunique(dropna=True)
            vals = want.dropna()
            if c == "s":
                if len(vals):
                    assert col.min_str == min(vals)
                    assert col.max_str == max(vals)
                else:
                    assert col.min_str is None and col.max_str is None
            else:
                if len(vals):
                    assert col.min_num == pytest.approx(float(vals.min()))
                    assert col.max_num == pytest.approx(float(vals.max()))
                    assert col.mean == pytest.approx(float(vals.mean()))
                else:
                    assert col.mean is None
                    assert not (
                        col.min_num is not None and math.isnan(col.min_num)
                    )

    inner()


def test_source_overlap_matrix_fuzz_vs_python_reference(spark):
    """Exact-mode matrix vs an independent pure-Python set
    computation over random (source, text) corpora — including
    whitespace/case variants that must unify and NULL sources."""
    import re

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.dedup import source_overlap_matrix

    ws = re.compile(r"\s+")
    corpora = st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["A", "B", "C"])),
            st.sampled_from(
                ["x y", "X  y", "y z", "q", "Q ", "r s t", "x y ",
                 "", "   ", "\t\n"]
            ),
        ),
        min_size=1,
        max_size=24,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpora)
    def inner(rows):
        pdf = pd.DataFrame(
            [(i, s, t) for i, (s, t) in enumerate(rows)],
            columns=["doc_id", "source", "text"],
        )
        df = spark.createDataFrame(pdf)
        got = {
            (r.src_a, r.src_b): (r.n_a, r.n_b, r.n_common, r.frac_a_in_b)
            for r in source_overlap_matrix(df).collect()
        }
        # reference: normalized-text sets per source
        sets: dict = {}
        for s, t in rows:
            if s is None:
                continue
            norm = ws.sub(" ", t.lower()).strip()
            if not norm:  # no content, no overlap identity
                continue
            sets.setdefault(s, set()).add(norm)
        sets = {s: v for s, v in sets.items() if v}
        want = {}
        for a, sa in sets.items():
            for b, sb in sets.items():
                if a == b:
                    continue
                c = len(sa & sb)
                want[(a, b)] = (len(sa), len(sb), c, c / len(sa))
        assert got == want

    inner()


def test_tfidf_top_terms_pins_single_corpus_scan(docs):
    """The (doc, term) count table is materialized and feeds BOTH the
    document-frequency aggregate and the join probe side: outside the
    cached subplan, no text-reading corpus scan remains (unpinned this
    was 3 full scans — 2 of them re-exploding the corpus)."""
    from dfsql_spark.operators.dedup import release_persists
    from dfsql_spark.operators.text import tfidf_top_terms

    q = tfidf_top_terms(docs, top_k=3, min_df=2, max_df_frac=0.5)
    try:
        q.write.format("noop").mode("overwrite").save()
        plan = q._jdf.queryExecution().executedPlan().toString()
        outer = plan.split("InMemoryRelation")[0]
        assert "InMemoryRelation" in plan  # the pin exists
        assert plan.count("InMemoryTableScan") >= 2  # both consumers hit it
        # no text-column FileScan above the cached subplan
        assert not any(
            "Scan parquet" in line and "text" in line
            for line in outer.splitlines()
        ), outer
    finally:
        release_persists()


def test_source_overlap_matrix_pins_single_corpus_scan(docs):
    """The distinct (source, hash) table is materialized and feeds the
    size aggregate and both self-join sides from the pin: outside the
    cached subplan no text-reading corpus scan remains (unpinned this
    was 4 full scans)."""
    from dfsql_spark.operators.dedup import (
        release_persists,
        source_overlap_matrix,
    )

    q = source_overlap_matrix(docs, source_col="lang")
    try:
        q.write.format("noop").mode("overwrite").save()
        plan = q._jdf.queryExecution().executedPlan().toString()
        outer = plan.split("InMemoryRelation")[0]
        assert "InMemoryRelation" in plan
        assert plan.count("InMemoryTableScan") >= 3
        assert not any(
            "Scan parquet" in line and "text" in line
            for line in outer.splitlines()
        ), outer
    finally:
        release_persists()


def test_ann_recall_single_join_consumes_inputs_once(ann_result_tables):
    """One full-outer join, each input subplan present exactly once —
    an expensive caller-side ANN plan is never recomputed."""
    from dfsql_spark.operators.similarity import ann_recall_report

    truth, approx = ann_result_tables
    plan = ann_recall_report(truth, approx, k=3)._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert plan.count("Join") == 1


# ---------------------------------------------------------------------------
# sniff_media_format / media_format_report (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def magic_corpus(spark):
    """Real magic bytes for every rule, plus liars and junk: a PNG
    claimed as jpeg, an HTML error page claimed as jpeg, a too-short
    payload, and NULL."""
    import pandas as pd

    rows = [
        (1, "png",  bytes.fromhex("89504E470D0A1A0A") + b"\x00" * 16),
        (2, "jpeg", bytes.fromhex("FFD8FFE0") + b"JFIF" + b"\x00" * 8),
        (3, "gif",  b"GIF89a" + b"\x00" * 10),
        (4, "webp", b"RIFF\x10\x00\x00\x00WEBPVP8 "),
        (5, "wav",  b"RIFF\x24\x00\x00\x00WAVEfmt "),
        (6, "mp4",  b"\x00\x00\x00\x18ftypisom" + b"\x00" * 4),
        (7, "mp3",  b"ID3\x04\x00" + b"\x00" * 11),
        (8, "flac", b"fLaC" + b"\x00" * 12),
        (9, "ogg",  b"OggS" + b"\x00" * 12),
        (10, "pdf", b"%PDF-1.7\n" + b"\x00" * 7),
        (11, "jpeg", bytes.fromhex("89504E470D0A1A0A") + b"\x00" * 8),  # liar
        (12, "jpeg", b"<html><body>404</body></html>"),                # liar
        (13, "png",  b"\x89P"),                                        # short
        (14, "png",  None),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "claimed", "payload"])
    )


def test_sniff_media_format_hand_pinned(magic_corpus):
    from dfsql_spark.operators.multimodal import sniff_media_format

    got = {
        r.media_id: r.sniffed_format
        for r in sniff_media_format(magic_corpus).collect()
    }
    want = {1: "png", 2: "jpeg", 3: "gif", 4: "webp", 5: "wav",
            6: "mp4", 7: "mp3", 8: "flac", 9: "ogg", 10: "pdf",
            11: "png", 12: None, 13: None, 14: None}
    assert got == want


def test_media_format_report_and_duckdb_mirror(magic_corpus, duck):
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.multimodal import (
        MEDIA_MAGIC,
        media_format_report,
    )

    rep = {
        (r.sniffed_format, r.claimed, r.mismatch): r.n
        for r in media_format_report(
            magic_corpus, claimed_col="claimed"
        ).collect()
    }
    # the two liars: PNG-claimed-jpeg is a mismatch; HTML junk sniffs
    # NULL and is NOT counted as a mismatch
    assert rep[("png", "jpeg", True)] == 1
    assert rep[(None, "jpeg", False)] == 1
    assert rep[("jpeg", "jpeg", False)] == 1

    # mirror: the same hex-prefix rules drive a DuckDB CASE chain
    duck.register("magic_pd", magic_corpus.toPandas())
    case = " ".join(
        f"WHEN substr(h, {2 * off + 1}, {len(p)}) = '{p}' THEN '{fmt}'"
        for fmt, off, p in MEDIA_MAGIC
    )
    mirror = f"""
        WITH heads AS (
            SELECT media_id, claimed,
                   substr(upper(hex(payload)), 1, 32) AS h
            FROM magic_pd
        ), sniffed AS (
            SELECT media_id, claimed, CASE {case} END AS sniffed_format
            FROM heads
        )
        SELECT sniffed_format, claimed,
               coalesce(sniffed_format IS NOT NULL
                        AND sniffed_format <> claimed, FALSE) AS mismatch,
               count(*) AS n
        FROM sniffed GROUP BY 1, 2, 3
    """
    assert_matches_oracle(
        media_format_report(magic_corpus, claimed_col="claimed"),
        duck.sql(mirror).df(),
        "media_format_report",
    )


def test_sniff_media_format_plan_is_map_only(magic_corpus):
    from dfsql_spark.operators.multimodal import sniff_media_format

    plan = sniff_media_format(magic_corpus)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan and "PythonEval" not in plan


def test_p01_fused_signals_single_projection(spark):
    """The capstone's three per-row signal operators (pii_scrub /
    c4_filters / repetition_ratio in append mode) collapse into ONE
    corpus scan; only the dedup-survivor side reads the corpus again
    (inherent — it feeds the pair join)."""
    import __spark_entry__ as em
    from .conftest import SF_DIR

    df = em.queries()["p01_curation_pipeline"](spark, SF_DIR)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        outer = plan.split("InMemoryRelation")[0]
        scans = sum(
            1
            for l in outer.splitlines()
            if "Scan parquet" in l and "documents" in l
        )
        assert scans <= 2, outer
    finally:
        em.release_caches()


def test_append_mode_keeps_inputs_and_matches_select_mode(docs):
    """append=True on the three signal ops preserves every input
    column and computes identical signal values to the default
    reduced form."""
    from dfsql_spark.operators.text import (
        c4_filters,
        pii_scrub,
        repetition_ratio,
    )

    for op, cols in (
        (pii_scrub, ["clean_text"]),
        (c4_filters, ["keep_doc", "n_words"]),
        (repetition_ratio, ["rep_ratio", "n_grams"]),
    ):
        full = op(docs, append=True)
        assert set(docs.columns) <= set(full.columns)
        a = {r["doc_id"]: tuple(r[c] for c in cols)
             for r in full.select("doc_id", *cols).collect()}
        b = {r["doc_id"]: tuple(r[c] for c in cols)
             for r in op(docs).select("doc_id", *cols).collect()}
        assert a == b


# ---------------------------------------------------------------------------
# zipf_report (round 11)
# ---------------------------------------------------------------------------


def test_zipf_report_hand_pinned_and_duckdb(spark, duck):
    """Exact mirror of every measure (incl. the OLS slope) on a small
    engineered corpus, plus closed-form edge pins."""
    import math

    import pandas as pd

    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.dedup import release_persists
    from dfsql_spark.operators.text import zipf_report

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "text": [
                "a a a a b b c",      # a:4(+2 below)=6, b:2(+1)=3, c:1(+1)=2
                "a b c d",            # d hapax? d appears once total
                "a e",                # e hapax
                None,
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    try:
        (r,) = zipf_report(df, top_ranks=3).collect()
    finally:
        release_persists()
    assert r.n_tokens == 13 and r.n_types == 5
    assert r.hapax_frac == pytest.approx(2 / 5)          # d, e
    assert r.type_token_ratio == pytest.approx(5 / 13)
    # closed-form OLS over (rank, freq) = (1,6),(2,3),(3,2)
    xs = [math.log(i) for i in (1, 2, 3)]
    ys = [math.log(f) for f in (6, 3, 2)]
    n = 3
    sl = (n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)) / (
        n * sum(x * x for x in xs) - sum(xs) ** 2
    )
    assert r.zipf_slope == pytest.approx(sl)

    duck.register("zipf_pd", pdf)
    mirror = """
        WITH toks AS (
            SELECT unnest(list_filter(regexp_split_to_array(
                coalesce(lower(text), ''), '\\s+'), x -> x <> '')) AS tok
            FROM zipf_pd
        ), counts AS (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
        ), stats AS (
            SELECT sum(n) AS n_tokens, count(*) AS n_types,
                   sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS hapax
            FROM counts
        ), head AS (
            SELECT ln(row_number() OVER (ORDER BY n DESC, tok ASC)::DOUBLE)
                       AS x,
                   ln(n::DOUBLE) AS y
            FROM counts ORDER BY n DESC, tok ASC LIMIT 3
        ), slope AS (
            SELECT (count(*) * sum(x * y) - sum(x) * sum(y))
                   / (count(*) * sum(x * x) - sum(x) * sum(x))
                       AS zipf_slope
            FROM head
        )
        SELECT n_tokens, n_types,
               n_types / n_tokens::DOUBLE AS type_token_ratio,
               hapax / n_types::DOUBLE AS hapax_frac,
               zipf_slope
        FROM stats, slope
    """
    try:
        assert_matches_oracle(
            zipf_report(df, top_ranks=3), duck.sql(mirror).df(), "zipf_report"
        )
    finally:
        release_persists()
    with pytest.raises(ValueError):
        zipf_report(df, top_ranks=1)


def test_zipf_report_natural_corpus_slope(docs):
    """The synthetic documents corpus should produce a negative slope
    (frequencies decay in rank) with sane bounded measures, and the
    plan must use TakeOrdered for the head — never a vocabulary-wide
    single-partition window."""
    from dfsql_spark.operators.dedup import release_persists
    from dfsql_spark.operators.text import zipf_report

    q = zipf_report(docs, top_ranks=200)
    try:
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        (r,) = q.collect()
        assert r.zipf_slope < 0
        assert 0 < r.type_token_ratio <= 1 and 0 <= r.hapax_frac <= 1
        assert r.n_types <= r.n_tokens
    finally:
        release_persists()


# ---------------------------------------------------------------------------
# round-11 code-review fixes (regression pins)
# ---------------------------------------------------------------------------


def test_column_profile_interval_column_counts_only(spark):
    """'interval day' must not prefix-match 'int': interval columns
    take the counts-only path instead of crashing the whole profile
    (reproduced crash pre-fix)."""
    import datetime

    from dfsql_spark.operators.checks import column_profile

    df = spark.createDataFrame(
        [(1, datetime.timedelta(days=3)), (2, None)],
        "k long, span interval day",
    )
    rows = {r.column: r for r in column_profile(df, ndv="exact").collect()}
    sp = rows["span"]
    assert (sp.n_rows, sp.n_null) == (2, 1)
    assert sp.n_distinct is None and sp.min_num is None and sp.min_str is None
    assert rows["k"].n_distinct == 2  # numerics still fully profiled


def test_source_overlap_matrix_null_text_excluded(spark):
    """NULL-text rows have no content identity: they must not count in
    n_a/n_b (pre-fix they deflated every fraction because a NULL hash
    can never join)."""
    from dfsql_spark.operators.dedup import source_overlap_matrix

    df = spark.createDataFrame(
        [(1, "A", None), (2, "A", "x"), (3, "B", None), (4, "B", "x")],
        "doc_id long, source string, text string",
    )
    got = {
        (r.src_a, r.src_b): r for r in source_overlap_matrix(df).collect()
    }
    assert got[("A", "B")].n_a == 1 and got[("A", "B")].n_b == 1
    assert got[("A", "B")].frac_a_in_b == 1.0


def test_media_format_report_null_claimed_is_not_mismatch(spark):
    """A NULL claimed type is UNKNOWN, not a mismatch — mismatch must
    be FALSE (bit-identical to the DuckDB mirror), never NULL."""
    import pandas as pd

    from dfsql_spark.operators.multimodal import media_format_report

    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, None, bytes.fromhex("89504E470D0A1A0A") + b"\x00" * 8)],
            columns=["media_id", "claimed", "payload"],
        )
    )
    (r,) = media_format_report(df, claimed_col="claimed").collect()
    assert r.sniffed_format == "png" and r.claimed is None
    assert r.mismatch is False


def test_tfidf_derived_input_upstream_runs_once(spark):
    """With a DERIVED input, the pinned base projection feeds both N
    and the (doc, term) table: no FileScan survives outside the cached
    subplans (pre-fix df.agg(count) re-ran the whole upstream plan)."""
    from dfsql_spark.operators.dedup import release_persists
    from dfsql_spark.operators.text import tfidf_top_terms
    from .conftest import SF_DIR

    derived = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("length(text) > 10")
        .withColumn("text", F.lower(F.col("text")))
    )
    q = tfidf_top_terms(derived, top_k=2, min_df=2)
    try:
        q.write.format("noop").mode("overwrite").save()
        plan = q._jdf.queryExecution().executedPlan().toString()
        outer = plan.split("InMemoryRelation")[0]
        assert "Scan parquet" not in outer, outer
    finally:
        release_persists()


# ---------------------------------------------------------------------------
# code-corpus curation: code_quality_signals / detect_license (round 11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def code_corpus(spark):
    mit = (
        "// Permission is hereby granted, free of charge\n"
        "fn main() { println!(\"hi\"); }\n"
    )
    spdx = "# SPDX-License-Identifier: Apache-2.0 WITH LLVM-exception\nx = 1\n"
    gpl = (
        "/* This program is free software: GNU General Public License */\n"
        "int main(void) { return 0; }\n"
    )
    minified = "var a=" + "x" * 1500 + ";\nshort\n"       # huge line
    autogen = "// Code generated by protoc. DO NOT EDIT.\npackage pb\n"
    binaryish = ("\x01\x02" * 40) + "\n"                  # low alnum
    normal = "def add(a, b):\n    return a + b\n"
    rows = [
        (1, mit), (2, spdx), (3, gpl), (4, minified),
        (5, autogen), (6, binaryish), (7, normal), (8, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_detect_license_hand_pinned(code_corpus):
    from dfsql_spark.operators.code import detect_license, license_filter

    got = {
        r.doc_id: r.license for r in detect_license(code_corpus).collect()
    }
    assert got[1] == "mit"
    # SPDX tag wins, normalized lowercase, expression preserved
    assert got[2] == "apache-2.0 with llvm-exception"
    assert got[3] == "gpl"
    assert got[7] is None and got[8] is None
    kept = {r.doc_id for r in license_filter(code_corpus).collect()}
    # permissive only: MIT + the apache SPDX expression (prefix match);
    # GPL and unknown-license files are dropped
    assert kept == {1, 2}


def test_code_quality_signals_hand_pinned(code_corpus):
    from dfsql_spark.operators.code import code_quality_signals

    got = {
        r.doc_id: r for r in code_quality_signals(code_corpus).collect()
    }
    assert got[7].keep_file and not got[7].is_autogen
    assert not got[4].keep_file and got[4].max_line_len > 1000
    assert not got[5].keep_file and got[5].is_autogen
    assert not got[6].keep_file and got[6].alnum_frac < 0.25
    # NULL file: zero counts, dropped
    assert got[8].n_lines == 1 and got[8].max_line_len == 0
    assert not got[8].keep_file
    # append mode keeps inputs
    from pyspark.sql import functions as _F
    full = code_quality_signals(code_corpus, append=True)
    assert "content" in full.columns and "keep_file" in full.columns


def test_code_ops_match_duckdb(code_corpus, duck):
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.code import (
        AUTOGEN_MARKERS,
        LICENSE_MARKERS,
        SPDX_RE,
        code_quality_signals,
        detect_license,
    )

    duck.register("code_pd", code_corpus.toPandas())
    lic_case = " ".join(
        f"WHEN contains(head, '{p}') THEN '{lic}'"
        for lic, p in LICENSE_MARKERS
    )
    lic_mirror = f"""
        WITH heads AS (
            SELECT doc_id, content,
                   lower(substr(coalesce(content, ''), 1, 4000)) AS head
            FROM code_pd
        )
        SELECT doc_id, content,
               CASE WHEN trim(regexp_extract(head, '{SPDX_RE}', 1)) <> ''
                    THEN trim(regexp_extract(head, '{SPDX_RE}', 1))
                    ELSE CASE {lic_case} END
               END AS license
        FROM heads
    """
    assert_matches_oracle(
        detect_license(code_corpus),
        duck.sql(lic_mirror).df(),
        "detect_license",
    )

    from dfsql_spark.operators.code import AUTOGEN_HEAD_LINES

    head_sql = (
        f"lower(array_to_string(list_slice(str_split(c, chr(10)), 1, "
        f"{AUTOGEN_HEAD_LINES}), chr(10)))"
    )
    autogen_or = " OR ".join(
        f"contains({head_sql}, '{m}')" for m in AUTOGEN_MARKERS
    )
    sig_mirror = f"""
        WITH base AS (
            SELECT doc_id, coalesce(content, '') AS c FROM code_pd
        ), feats AS (
            SELECT doc_id,
                   len(str_split(c, chr(10))) AS n_lines,
                   coalesce(list_max(list_transform(str_split(c, chr(10)),
                       x -> length(x))), 0) AS max_line_len,
                   length(c) AS n_chars,
                   length(regexp_replace(c, '[^A-Za-z0-9]', '', 'g'))
                       AS n_alnum,
                   ({autogen_or}) AS is_autogen
            FROM base
        )
        SELECT doc_id, n_lines, max_line_len,
               CASE WHEN n_lines > 0
                    THEN (n_chars - (n_lines - 1)) / n_lines::DOUBLE
                    ELSE 0.0 END AS mean_line_len,
               CASE WHEN n_chars > 0 THEN n_alnum / n_chars::DOUBLE
                    ELSE 0.0 END AS alnum_frac,
               is_autogen,
               n_chars > 0 AND max_line_len <= 1000
               AND (CASE WHEN n_lines > 0
                         THEN (n_chars - (n_lines - 1)) / n_lines::DOUBLE
                         ELSE 0.0 END) <= 100.0
               AND (CASE WHEN n_chars > 0 THEN n_alnum / n_chars::DOUBLE
                         ELSE 0.0 END) >= 0.25
               AND NOT is_autogen AS keep_file
        FROM feats
    """
    assert_matches_oracle(
        code_quality_signals(code_corpus),
        duck.sql(sig_mirror).df(),
        "code_quality_signals",
    )


def test_code_ops_plans_are_map_only(code_corpus):
    from dfsql_spark.operators.code import (
        code_quality_signals,
        detect_license,
        detect_license_expr,
        license_filter,
    )

    for q in (
        detect_license(code_corpus),
        code_quality_signals(code_corpus),
        license_filter(code_corpus),
        code_corpus.select(detect_license_expr().alias("l")),
    ):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "PythonEval" not in plan


def test_spdx_capture_bounded_to_expression_grammar(spark):
    """Round-11 advisor pin: trailing prose on the SPDX tag line must
    NOT be swallowed into the stored license id — the capture stops at
    the expression grammar (ids joined by single-space WITH/OR/AND)."""
    from dfsql_spark.operators.code import detect_license

    rows = [
        (1, "# SPDX-License-Identifier: MIT see LICENSE file\nx=1\n"),
        (2, "# SPDX-License-Identifier: Apache-2.0 WITH "
            "LLVM-exception (see NOTICE)\nx=1\n"),
        (3, "# SPDX-License-Identifier: MIT AND GPL-3.0-only extra\n"),
        (4, "# SPDX-License-Identifier: BSD-3-Clause\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    got = {r.doc_id: r.license for r in detect_license(df).collect()}
    assert got[1] == "mit"
    # WITH-exception kept; the parenthesized aside is prose, but the
    # grammar admits '(' so '(see' would only attach via a connective —
    # it doesn't, so the capture ends at the exception id
    assert got[2] == "apache-2.0 with llvm-exception"
    assert got[3] == "mit and gpl-3.0-only"
    assert got[4] == "bsd-3-clause"


def test_license_filter_spdx_connective_semantics(spark):
    """Round-11 advisor pin: AND means every operand's obligations
    apply — 'mit and gpl-3.0-only' must NOT pass a permissive-only
    allow; OR is the licensee's choice — any allowed operand passes;
    WITH-exceptions pass their base id; and allowed-id matching is no
    longer a bare substring prefix ('mit' must not claim 'mitre-x')."""
    from dfsql_spark.operators.code import license_filter

    rows = [
        (1, "# SPDX-License-Identifier: MIT AND GPL-3.0-only\n"),
        (2, "# SPDX-License-Identifier: GPL-3.0-only OR MIT\n"),
        (3, "# SPDX-License-Identifier: Apache-2.0 WITH LLVM-exception\n"),
        (4, "# SPDX-License-Identifier: BSD-3-Clause\n"),
        (5, "# SPDX-License-Identifier: (MIT OR Apache-2.0) AND Unlicense\n"),
        (6, "# SPDX-License-Identifier: MITRE-x\n"),
        (7, "# SPDX-License-Identifier: MIT AND Apache-2.0\n"),
        (8, "// Permission is hereby granted, free of charge\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    kept = {r.doc_id for r in license_filter(df).collect()}
    assert kept == {2, 3, 4, 5, 7, 8}


def test_autogen_markers_scoped_to_opening_lines(spark):
    """Round-11 advisor pin: 'generated by' / 'do not edit' mentioned
    in the file BODY (docs, string literals, codegen-tool source) must
    not drop the file — only the opening AUTOGEN_HEAD_LINES lines are
    marker-scanned, per the cited Stack recipe."""
    from dfsql_spark.operators.code import (
        AUTOGEN_HEAD_LINES,
        code_quality_signals,
    )

    filler = "\n".join(f"x{i} = {i}" for i in range(AUTOGEN_HEAD_LINES + 2))
    body_mention = (
        filler + '\nHELP = "files generated by this tool. do not edit"\n'
    )
    head_mention = "// Code generated by protoc. DO NOT EDIT.\n" + filler
    df = spark.createDataFrame(
        [(1, body_mention), (2, head_mention)],
        "doc_id long, content string",
    )
    got = {r.doc_id: r for r in code_quality_signals(df).collect()}
    assert not got[1].is_autogen and got[1].keep_file
    assert got[2].is_autogen and not got[2].keep_file


# ---------------------------------------------------------------------------
# approx-quantile sketch property (round 12)
# ---------------------------------------------------------------------------


def test_percentile_approx_within_band(spark):
    """Contract entry x02_approx_quantiles left the contract in the
    round-12 near-duplicate-shape swap (x01 grades the same
    sketch-within-band contract for HLL distinct counts); the
    percentile_approx accuracy claim keeps its pin here, verbatim:
    the KLL-ish mergeable sketch (THE quantile at 100 TB, where exact
    percentile means a full sort) lands within 1% relative error of
    the exact percentile at accuracy=10000 on lineitem prices."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    row = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))"
        ).alias("ex"),
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.95, 0.99], 10000
        ).alias("ap"),
    ).collect()[0]
    for e, a in zip(row.ex, row.ap):
        assert abs(a - e) <= 0.01 * abs(e), (e, a)


# ---------------------------------------------------------------------------
# dedup_report / truncate_embeddings (round 12)
# ---------------------------------------------------------------------------


def test_dedup_report_hand_pinned_and_consistent(spark):
    """Engineered graph: chain {1,2,3} + pair {10,11} + isolated 20.
    Counts are exact; n_removed agrees with what dedup_by_components
    actually deletes; duplicate/reversed pair rows don't inflate
    n_pairs."""
    import pandas as pd

    from dfsql_spark.operators.dedup import dedup_by_components, dedup_report

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 20]})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": [1, 2, 10, 2, 11],
                "id_b": [2, 3, 11, 1, 10],  # 2-1 and 11-10 are dups
            }
        )
    )
    (r,) = dedup_report(docs, pairs).collect()
    assert (r.n_docs, r.n_pairs, r.n_dup_docs) == (6, 3, 5)
    assert (r.n_clusters, r.max_cluster_size, r.n_removed) == (2, 3, 3)
    assert r.frac_docs_duplicated == 5 / 6 and r.frac_removed == 3 / 6
    survivors = dedup_by_components(docs, pairs).count()
    assert survivors == r.n_docs - r.n_removed
    # review pin: renamed pair columns flow through BOTH the component
    # resolution and the undirected pair count
    renamed = pairs.withColumnRenamed("id_a", "src").withColumnRenamed(
        "id_b", "dst"
    )
    (r2,) = dedup_report(docs, renamed, id_a="src", id_b="dst").collect()
    assert r2 == r
    # advisor r12 pin: degenerate pair rows — self-pairs (a, a) and
    # NULL ids — must not inflate the card (a self-pair would count as
    # an undirected pair and a size-1 "cluster" even though the
    # survivor policy removes nothing for it)
    degenerate = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (None, 1), (3, None)],
        schema="id_a bigint, id_b bigint",
    )
    (r3,) = dedup_report(docs, degenerate).collect()
    assert (r3.n_docs, r3.n_pairs, r3.n_dup_docs) == (6, 3, 5)
    assert (r3.n_clusters, r3.max_cluster_size, r3.n_removed) == (2, 3, 3)


def test_dedup_report_matches_duckdb(spark, duck):
    """Recursive-CTE mirror (the d06 oracle shape) over a planted
    graph: components = min reachable id, then the same aggregates."""
    import pandas as pd

    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.dedup import dedup_report

    docs_pd = pd.DataFrame({"doc_id": range(30)})
    pairs_pd = pd.DataFrame(
        {
            "id_a": [0, 1, 5, 6, 10, 20, 21],
            "id_b": [1, 2, 6, 7, 11, 21, 22],
        }
    )
    docs = spark.createDataFrame(docs_pd)
    pairs = spark.createDataFrame(pairs_pd)
    duck.register("dr_docs", docs_pd)
    duck.register("dr_pairs", pairs_pd)
    mirror = """
        WITH RECURSIVE edges AS (
            SELECT id_a AS a, id_b AS b FROM dr_pairs
            UNION SELECT id_b, id_a FROM dr_pairs
        ), nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach AS (
            SELECT id, id AS r FROM nodes
            UNION SELECT reach.id, edges.b
            FROM reach JOIN edges ON reach.r = edges.a
        ), comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
        und AS (SELECT DISTINCT least(id_a, id_b) AS a,
                       greatest(id_a, id_b) AS b FROM dr_pairs)
        SELECT (SELECT count(*) FROM dr_docs) AS n_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_pairs,
               CAST(sum(sz) AS BIGINT) AS n_dup_docs,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(max(sz) AS BIGINT) AS max_cluster_size,
               CAST(sum(sz) - count(*) AS BIGINT) AS n_removed,
               sum(sz) / (SELECT count(*) FROM dr_docs)::DOUBLE
                   AS frac_docs_duplicated,
               (sum(sz) - count(*)) / (SELECT count(*) FROM dr_docs)::DOUBLE
                   AS frac_removed
        FROM sizes
    """
    assert_matches_oracle(
        dedup_report(docs, pairs), duck.sql(mirror).df(), "dedup_report"
    )


def test_truncate_embeddings_semantics(spark):
    """Hand pins: prefix slice + unit renorm; NULL vector, too-short
    vector, and zero-norm prefix all come back NULL; renormalize=False
    keeps raw prefix values; validation error on dim < 1."""
    import math

    import pandas as pd

    from dfsql_spark.operators.similarity import truncate_embeddings

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3, 4],
                "embedding": [
                    [3.0, 4.0, 9.0, 9.0],
                    None,
                    [1.0, 1.0],          # shorter than dim=3
                    [0.0, 0.0, 0.0, 5.0],  # zero-norm prefix at dim=3
                ],
            }
        )
    )
    out = {
        r.vec_id: r.embedding
        for r in truncate_embeddings(df, 3, out_col="embedding").collect()
    }
    got = out[1]
    assert got is not None and len(got) == 3
    assert abs(math.sqrt(sum(x * x for x in got)) - 1.0) < 1e-12
    assert abs(got[0] - 3.0 / math.sqrt(9 + 16 + 81)) < 1e-12
    assert out[2] is None and out[3] is None and out[4] is None
    raw = {
        r.vec_id: r.trunc
        for r in truncate_embeddings(
            df, 2, out_col="trunc", renormalize=False
        ).collect()
    }
    assert raw[1] == [3.0, 4.0] and raw[3] == [1.0, 1.0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim must be"):
        truncate_embeddings(df, 0)
    # review pins: a NaN-component prefix yields NULL under
    # renormalize (Spark orders NaN above numbers — a bare `norm > 0`
    # would wave it through as an all-NaN vector); staging-column
    # collisions error instead of silently eating a user column
    nan_df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [9], "embedding": [[float("nan"), 1.0, 2.0]]})
    )
    (nr,) = truncate_embeddings(nan_df, 2, out_col="t").collect()
    assert nr.t is None
    with _pytest.raises(ValueError, match="_t_sliced"):
        truncate_embeddings(df.withColumn("_t_sliced", F.lit(1)), 2)


def test_truncate_embeddings_matches_duckdb(emb, duck):
    """DuckDB mirror over the real embeddings table (float-tolerant
    compare — renormalized doubles): slice, fold the squared norm,
    divide; NULL/short/zero-norm gating identical."""
    import pyspark.sql.functions as F

    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.similarity import truncate_embeddings

    dim = 16
    got = truncate_embeddings(emb, dim, out_col="trunc").select(
        "vec_id", F.posexplode("trunc").alias("i", "x")
    )
    duck.register("te_emb", emb.select("vec_id", "embedding").toPandas())
    mirror = f"""
        WITH s AS (
            SELECT vec_id,
                   CASE WHEN embedding IS NOT NULL
                             AND len(embedding) >= {dim}
                        THEN list_transform(embedding[1:{dim}],
                                            x -> CAST(x AS DOUBLE))
                   END AS p
            FROM te_emb
        ), n AS (
            SELECT vec_id, p,
                   sqrt(list_sum(list_transform(p, x -> x * x))) AS nrm
            FROM s
        )
        SELECT vec_id, CAST(u.i - 1 AS INT) AS i, p[u.i] / nrm AS x
        FROM n, unnest(range(1, len(p) + 1)) u(i)
        WHERE nrm > 0
    """
    assert_matches_oracle(got, duck.sql(mirror).df(), "truncate_embeddings")


def test_truncate_embeddings_recall_and_plan(emb):
    """The MRL tuning loop: full-width 'truncation' is exactly the
    identity ranking (recall 1.0); half-width recall is measured and
    structurally bounded — every query keeps ITSELF as a truncated
    top-k neighbor (cosine 1.0 at any prefix), so per-query recall is
    >= 1/k — but on this ISOTROPIC synthetic corpus it is expected to
    be weak (~0.4: no MRL training concentrated information in the
    prefix), which is exactly why the measuring loop exists.  The
    operator's plan is a pure map: no shuffle, no Python."""
    from dfsql_spark.operators.similarity import (
        ann_recall_summary,
        cosine_topk,
        truncate_embeddings,
    )

    qs = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = cosine_topk(emb, qs, k=5)
    full = truncate_embeddings(emb, 64)
    qfull = full.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    (ident,) = ann_recall_summary(
        truth, cosine_topk(full, qfull, k=5), k=5
    ).collect()
    assert ident.macro_recall == 1.0
    half = truncate_embeddings(emb, 32)
    qhalf = half.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    (s,) = ann_recall_summary(
        truth, cosine_topk(half, qhalf, k=5), k=5
    ).collect()
    assert s.macro_recall <= 1.0 and s.min_recall >= 1.0 / 5, s
    plan = (
        truncate_embeddings(emb, 32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_substring_spans_and_removal_fuzz_vs_reference(spark):
    """The gram-diagonal islands construction and the interval-merge
    removal against an INDEPENDENT plain-Python implementation of the
    same semantics, on random small-alphabet corpora (small alphabets
    maximize shared runs, chains, and overlapping delete intervals —
    the cases the gaps-and-islands logic must get right)."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.dedup import (
        remove_shared_spans,
        shared_substring_spans,
    )

    k = 3

    def ref_spans(toks_by_id):
        out = set()
        grams = {
            i: [tuple(t[j : j + k]) for j in range(len(t) - k + 1)]
            for i, t in toks_by_id.items()
        }
        ids = sorted(toks_by_id)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                bydiag: dict = {}
                for pa, ga in enumerate(grams[a]):
                    for pb, gb in enumerate(grams[b]):
                        if ga == gb:
                            bydiag.setdefault(pa - pb, []).append(pa)
                for d, pas in bydiag.items():
                    pas = sorted(pas)
                    start = prev = pas[0]
                    for p in pas[1:] + [None]:
                        if p is not None and p == prev + 1:
                            prev = p
                            continue
                        out.add((a, b, start, start - d, prev - start + k))
                        if p is not None:
                            start = prev = p
        return out

    def ref_remove(toks_by_id, spans):
        iv: dict = {}
        for (_a, b, _sa, sb, n) in spans:
            iv.setdefault(b, []).append((sb, sb + n))
        out = {}
        for i, t in toks_by_id.items():
            dele = set()
            for s, e in iv.get(i, []):
                dele.update(range(s, e))
            kept = [tok for j, tok in enumerate(t) if j not in dele]
            out[i] = (" ".join(kept), len(t), len(kept))
        return out

    corpora = st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=12),
        min_size=2,
        max_size=5,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpora)
    def inner(token_lists):
        toks_by_id = {i: t for i, t in enumerate(token_lists)}
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(toks_by_id),
                    "text": [" ".join(t) for t in toks_by_id.values()],
                }
            )
        )
        spans = shared_substring_spans(df, min_tokens=k)
        got = {
            (r.id_a, r.id_b, r.start_a, r.start_b, r.n_tokens)
            for r in spans.collect()
        }
        assert got == ref_spans(toks_by_id)
        removed = {
            r.doc_id: (r.text, r.n_tokens, r.n_kept)
            for r in remove_shared_spans(df, spans).collect()
        }
        assert removed == ref_remove(toks_by_id, got)

    inner()


def test_group_keep_report_hand_pinned(spark):
    """Wilson bounds against an independent Python spelling; NULL
    flags excluded from the rate but counted; NULL group is its own
    row; all-NULL-flag group gets NULL rate/bounds."""
    import math

    import pandas as pd

    from dfsql_spark.operators.checks import group_keep_report

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(9),
                "domain": ["a", "a", "a", "a", "b", "b", None, "c", "c"],
                "keep": [
                    True, True, True, False,       # a: 3/4
                    True, None,                    # b: 1/1 eval, 1 null
                    False,                         # NULL group
                    None, None,                    # c: no evaluable flags
                ],
            }
        )
    )
    out = {r.domain: r for r in group_keep_report(df, "keep", "domain").collect()}

    def wilson(k, n, z=1.959963984540054):
        p = k / n
        d = 1 + z * z / n
        c = (p + z * z / (2 * n)) / d
        h = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / d
        return max(c - h, 0.0), min(c + h, 1.0)

    a = out["a"]
    assert (a.n_docs, a.n_kept, a.n_flag_null) == (4, 3, 0)
    lo, hi = wilson(3, 4)
    assert a.keep_rate == 0.75
    assert abs(a.ci_low - lo) < 1e-12 and abs(a.ci_high - hi) < 1e-12
    b = out["b"]
    assert (b.n_docs, b.n_kept, b.n_flag_null) == (2, 1, 1)
    assert b.keep_rate == 1.0 and b.ci_high == 1.0 and 0 < b.ci_low < 1
    assert out[None].n_docs == 1 and out[None].keep_rate == 0.0
    c = out["c"]
    assert (c.n_docs, c.n_flag_null) == (2, 2)
    assert c.keep_rate is None and c.ci_low is None and c.ci_high is None


def test_group_keep_report_matches_duckdb(docs, duck):
    """Exact-counts + closed-form Wilson mirror over documents with a
    derived keep flag (length threshold), grouped by language."""
    import pyspark.sql.functions as F

    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.checks import group_keep_report

    flagged = docs.withColumn("keep", F.col("n_chars") > 200)
    z = 1.959963984540054
    mirror = f"""
        WITH g AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(CASE WHEN n_chars > 200 THEN 1 END)
                        AS BIGINT) AS n_kept,
                   CAST(0 AS BIGINT) AS n_flag_null
            FROM documents GROUP BY lang
        )
        SELECT lang, n_docs, n_kept, n_flag_null,
               n_kept / n_docs::DOUBLE AS keep_rate,
               greatest(
                   ((n_kept / n_docs::DOUBLE) + {z}*{z}/(2*n_docs))
                       / (1 + {z}*{z}/n_docs)
                   - {z} * sqrt((n_kept / n_docs::DOUBLE)
                                * (1 - n_kept / n_docs::DOUBLE) / n_docs
                                + {z}*{z}/(4*n_docs*n_docs))
                       / (1 + {z}*{z}/n_docs), 0.0) AS ci_low,
               least(
                   ((n_kept / n_docs::DOUBLE) + {z}*{z}/(2*n_docs))
                       / (1 + {z}*{z}/n_docs)
                   + {z} * sqrt((n_kept / n_docs::DOUBLE)
                                * (1 - n_kept / n_docs::DOUBLE) / n_docs
                                + {z}*{z}/(4*n_docs*n_docs))
                       / (1 + {z}*{z}/n_docs), 1.0) AS ci_high
        FROM g
    """
    assert_matches_oracle(
        group_keep_report(flagged, "keep", "lang"),
        duck.sql(mirror).df(),
        "group_keep_report",
    )


def test_group_keep_report_plan_single_agg(docs):
    import pyspark.sql.functions as F

    from dfsql_spark.operators.checks import group_keep_report

    plan = (
        group_keep_report(
            docs.withColumn("keep", F.col("n_chars") > 200), "keep", "lang"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan  # one grouped agg, map-side combined
    assert "Python" not in plan


def test_packing_report_hand_pinned_and_composed(spark):
    """Hand-pinned fills/waste on an engineered packed table, then
    composition: report over a real pack_sequences run agrees with
    recomputing the same stats from the packed output."""
    import pandas as pd

    from dfsql_spark.operators.text import pack_sequences, packing_report

    packed = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "source": ["s", "s", "s", "t", "t"],
                "seq_id": [0, 0, 1, 0, 0],
                "doc_tokens": [6, 4, 3, 5, 5],
            }
        )
    )
    (r,) = packing_report(packed, budget=10).collect()
    assert (r.n_sequences, r.n_docs, r.total_tokens, r.budget) == (3, 5, 23, 10)
    assert r.min_fill == 0.3 and r.max_fill == 1.0
    assert abs(r.mean_fill - (1.0 + 0.3 + 1.0) / 3) < 1e-12
    assert abs(r.waste_frac - (1 - 23 / 30)) < 1e-12
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget must be"):
        packing_report(packed, 0)

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "source": ["x"] * 10 + ["y"] * 10,
                "text": [" ".join(["w"] * (3 + i % 5)) for i in range(20)],
            }
        )
    )
    out = pack_sequences(docs, budget=8)
    (rep,) = packing_report(out, budget=8).collect()
    rows = out.collect()
    fills: dict = {}
    for row in rows:
        fills[(row.source, row.seq_id)] = (
            fills.get((row.source, row.seq_id), 0) + row.doc_tokens
        )
    assert rep.n_sequences == len(fills) and rep.n_docs == len(rows)
    assert rep.total_tokens == sum(fills.values())
    assert rep.max_fill == max(fills.values()) / 8
    assert abs(
        rep.waste_frac - (1 - sum(fills.values()) / (len(fills) * 8))
    ) < 1e-12
    # plan pin (review): exactly the documented shuffles on a packed
    # input — one doc-grain (shard, seq) agg exchange + the one-row
    # rollup's single partition; no Python
    plan = (
        packing_report(packed, budget=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 2, plan
    assert "Python" not in plan
    # and the COMPOSED pipeline (second review pass): the docstring's
    # scale claim is that applyInPandas output partitioning is NOT
    # reusable — the report adds a fresh (shard, seq) exchange on top
    # of packing's shard exchange and rollup, and the only Python
    # stage is the packer itself.  If a future Spark makes the
    # partitioning reusable, this pin flags the docstring for update.
    composed = (
        packing_report(out, budget=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert composed.count("Exchange") == 3, composed
    assert composed.count("FlatMapGroupsInPandas") == 1, composed


def test_url_host_expr_hand_pinned_and_composed(spark, duck):
    """Host extraction shares one parse with canonical_url_expr: same
    lowercase/userinfo/port/www rules, NULL for no-authority inputs;
    DuckDB mirror from the same regex constant; composes as the group
    key for grouped_split (whole domains move together)."""
    import pandas as pd

    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import grouped_split
    from dfsql_spark.operators.web import (
        URL_PARSE_RE,
        canonical_url_expr,
        url_host_expr,
    )

    rows = pd.DataFrame(
        {
            "doc_id": range(8),
            "url": [
                "HTTP://WWW.Example.COM:80/a?x=1",
                "https://user:pw@www.www.site.org:443/b",
                "example.com/path",          # schemeless -> default http
                "http://host.net:8080/c",    # non-default port kept
                "/relative/only",            # no authority -> NULL
                "",                          # empty -> NULL
                None,                        # NULL -> NULL
                "https://Example.com/a?utm_source=x",
            ],
        }
    )
    df = spark.createDataFrame(rows)
    got = {
        r.doc_id: r.host
        for r in df.select(
            "doc_id", url_host_expr("url").alias("host")
        ).collect()
    }
    assert got[0] == "example.com"
    assert got[1] == "site.org"
    assert got[2] == "example.com"
    assert got[3] == "host.net:8080"
    assert got[4] is None and got[5] is None and got[6] is None
    assert got[7] == "example.com"

    duck.register("uh_pd", rows)
    mirror = f"""
        WITH c AS (
            SELECT doc_id,
                   regexp_replace(url, '[ \\t\\n\\r\\f\\x0B]+', '', 'g') AS u
            FROM uh_pd
        ), p AS (
            SELECT doc_id,
                   CASE WHEN lower(regexp_extract(u, '{URL_PARSE_RE}', 1)) = ''
                        THEN 'http'
                        ELSE lower(regexp_extract(u, '{URL_PARSE_RE}', 1))
                   END AS scheme,
                   lower(regexp_replace(
                       regexp_extract(u, '{URL_PARSE_RE}', 2), '^.*@', ''))
                       AS h0
            FROM c
        ), n AS (
            SELECT doc_id,
                   regexp_replace(
                       CASE WHEN scheme = 'http'
                                THEN regexp_replace(h0, '(:80)+$', '')
                            WHEN scheme = 'https'
                                THEN regexp_replace(h0, '(:443)+$', '')
                            ELSE h0 END,
                       '^(www\\.)+', '') AS h
            FROM p
        )
        SELECT doc_id, nullif(h, '') AS host FROM n
    """
    assert_matches_oracle(
        df.select("doc_id", url_host_expr("url").alias("host")),
        duck.sql(mirror).df(),
        "url_host_expr",
    )

    # one shared parse: the host is a prefix component of the
    # canonical form whenever both are non-NULL
    both = df.select(
        url_host_expr("url").alias("h"),
        canonical_url_expr("url").alias("c"),
    ).collect()
    for r in both:
        assert (r.h is None) == (r.c is None)
        if r.h is not None:
            assert f"://{r.h}" in r.c

    # composition: grouped_split over the extracted host keeps every
    # url of a domain in one split
    split = grouped_split(
        df.withColumn("host", url_host_expr("url")), "host", id_col="doc_id"
    )
    by_host: dict = {}
    for r in split.collect():
        if r.host is not None:
            by_host.setdefault(r.host, set()).add(r.split)
    assert all(len(s) == 1 for s in by_host.values())


def test_winnow_fuzz_vs_reference(spark):
    """Winnowing fingerprints against an INDEPENDENT plain-Python
    implementation (per-character polynomial hash, explicit window-min
    loop) on random small-alphabet texts, plus the SIGMOD'03 guarantee
    re-checked on every generated pair: docs sharing a substring of
    length >= k + w - 1 share at least one fingerprint."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import FINGERPRINT_MOD, winnow_fingerprints

    k, w = 4, 3
    M = FINGERPRINT_MOD

    def ref(text):
        norm = " ".join((text or "").lower().split())
        if len(norm) < k:
            return set()
        hs = []
        for i in range(len(norm) - k + 1):
            h = 0
            for c in norm[i : i + k]:
                h = (h * 31 + ord(c)) % M
            hs.append(h)
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    texts = st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts)
    def inner(ts):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(ts)), "text": ts})
        )
        got: dict = {i: set() for i in range(len(ts))}
        for r in winnow_fingerprints(df, k=k, w=w).collect():
            got[r.doc_id].add(r.fp)
        want = {i: ref(t) for i, t in enumerate(ts)}
        assert got == want
        # guarantee: any pair sharing a long-enough normalized
        # substring shares a fingerprint
        norms = [" ".join((t or "").lower().split()) for t in ts]
        L = k + w - 1
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                shares_run = any(
                    norms[i][p : p + L] in norms[j]
                    for p in range(max(0, len(norms[i]) - L + 1))
                    if len(norms[i][p : p + L]) == L
                )
                if shares_run:
                    assert got[i] & got[j], (norms[i], norms[j])

    inner()


# ---------------------------------------------------------------------------
# vocab_coverage (round 12)
# ---------------------------------------------------------------------------


def test_vocab_coverage_hand_pinned(spark):
    """Exact head sizes on a hand-computable mass distribution
    (a:6 b:3 c:1), tie buckets, boundary targets, empty corpus,
    validation."""
    import pandas as pd
    import pytest as _pytest

    from dfsql_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a a a b b c", "a a a b"]})
    )
    out = {
        r.mass_frac: r
        for r in vocab_coverage(df, (0.5, 0.6, 0.7, 1.0)).collect()
    }
    # total mass 10: a=6, b=3, c=1
    assert (out[0.5].n_types, out[0.5].covered_frac) == (1, 0.6)
    assert (out[0.6].n_types, out[0.6].covered_frac) == (1, 0.6)
    assert (out[0.7].n_types, out[0.7].covered_frac) == (2, 0.9)
    assert (out[1.0].n_types, out[1.0].covered_frac) == (3, 1.0)
    # tie bucket: both types carry equal mass, minimum is unambiguous
    ties = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["x y x y"]})
    )
    (t,) = vocab_coverage(ties, (0.5,)).collect()
    assert (t.n_types, t.covered_frac) == (1, 0.5)
    # empty vocabulary -> zero rows
    empty = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["   "]})
    )
    assert vocab_coverage(empty, (0.5,)).count() == 0
    with _pytest.raises(ValueError, match="mass_fracs"):
        vocab_coverage(df, (0.0,))
    with _pytest.raises(ValueError, match="mass_fracs"):
        vocab_coverage(df, ())


def test_vocab_coverage_matches_duckdb(docs, duck):
    """Exact mirror on documents: same tokenizer, same count
    histogram, same cumulative threshold arithmetic."""
    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import vocab_coverage

    mirror = """
        WITH toks AS (
            SELECT unnest(list_filter(
                regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                x -> x <> '')) AS t
            FROM documents
        ), vocab AS (
            SELECT t, count(*) AS c FROM toks GROUP BY t
        ), hist AS (
            SELECT c, CAST(count(*) AS BIGINT) AS n_types
            FROM vocab GROUP BY c
        ), cum AS (
            SELECT c, n_types, c * n_types AS mass,
                   sum(c * n_types) OVER (ORDER BY c DESC) AS cum_mass,
                   sum(n_types) OVER (ORDER BY c DESC) AS cum_types,
                   sum(c * n_types) OVER () AS total
            FROM hist
        ), fr AS (
            SELECT unnest([0.5, 0.9, 0.95, 0.99]) AS mass_frac
        )
        SELECT fr.mass_frac,
               CAST(cum_types - n_types
                    + ceil((mass_frac * total - (cum_mass - mass)) / c)
                    AS BIGINT) AS n_types,
               ((cum_mass - mass)
                + ceil((mass_frac * total - (cum_mass - mass)) / c) * c)
                   / total::DOUBLE AS covered_frac
        FROM cum JOIN fr
          ON cum_mass >= mass_frac * total
         AND cum_mass - mass < mass_frac * total
    """
    assert_matches_oracle(
        vocab_coverage(docs), duck.sql(mirror).df(), "vocab_coverage"
    )


def test_vocab_coverage_fuzz_vs_reference(spark):
    """Coverage heads against an INDEPENDENT plain-Python reference
    (sort the full vocabulary most-frequent-first and walk it type by
    type — the naive construction the operator's histogram-walk
    deliberately avoids): random tiny corpora force tie buckets,
    single-type vocabularies, boundary fractions (1.0), repeated
    tokens, and empty documents."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import vocab_coverage

    def reference(texts, fracs):
        from collections import Counter

        counts = Counter(
            t for x in texts for t in (x or "").lower().split() if t
        )
        total = sum(counts.values())
        if not total:
            return {}
        # most-frequent-first, walk type by type; ties share a count so
        # any tie order yields the same minimum (equal per-type mass)
        ordered = sorted(counts.values(), key=lambda c: -c)
        out = {}
        for f in fracs:
            # smallest head whose cumulative mass reaches f * total —
            # the same double-vs-int comparison the engines make
            target = f * total
            cum = n = 0
            for c in ordered:
                n += 1
                cum += c
                if cum >= target:
                    break
            out[f] = (n, cum / total)
        return out

    texts_st = st.lists(
        st.text(alphabet="ab c", max_size=12), min_size=0, max_size=8
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts_st)
    def inner(texts):
        fracs = (0.25, 0.5, 0.75, 1.0)
        df = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": range(len(texts)), "text": pd.array(texts, dtype="string")}
            ),
            schema="doc_id long, text string",
        )
        got = {
            r.mass_frac: (r.n_types, r.covered_frac)
            for r in vocab_coverage(df, fracs).collect()
        }
        want = reference(texts, fracs)
        assert set(got) == set(want), (texts, got, want)
        for f in want:
            assert got[f][0] == want[f][0], (texts, f, got[f], want[f])
            assert got[f][1] == pytest.approx(want[f][1], abs=1e-12)

    inner()


def test_vocab_coverage_properties_and_plan(docs):
    """Monotonicity (higher fraction -> no fewer types), covered_frac
    >= requested, head never exceeds the vocabulary; plan: the
    windows run over the count HISTOGRAM, so the only corpus-sized
    exchange is the (token, count) aggregate — one corpus scan, no
    Python."""
    from dfsql_spark.operators.text import vocab_coverage, vocab_topk

    rows = sorted(
        vocab_coverage(docs).collect(), key=lambda r: r.mass_frac
    )
    assert all(
        a.n_types <= b.n_types for a, b in zip(rows, rows[1:])
    )
    assert all(r.covered_frac >= r.mass_frac for r in rows)
    vocab_size = vocab_topk(docs, k=10**9).count()
    assert rows[-1].n_types <= vocab_size
    plan = (
        vocab_coverage(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    assert plan.count("documents.parquet") <= 1 or plan.count(
        "InMemoryTableScan"
    ) >= 1, plan


# ---------------------------------------------------------------------------
# mojibake_score (round 14)
# ---------------------------------------------------------------------------


def test_mojibake_score_hand_pinned(spark):
    """Exact counts on engineered corruption: the Latin-1 2-byte
    artifact, the cp1252 curly-quote family (counted once per site,
    not per char), replacement chars, the C2/NBSP artifact, bare C1
    controls — while REAL accents and typographic punctuation stay at
    zero (the false-positive class that matters: flagging every French
    document would be worse than no filter)."""
    import pandas as pd

    from dfsql_spark.operators.text import mojibake_score

    rows = {
        1: "caf\u00c3\u00a9 bar",                 # 1 site
        2: "it\u00e2\u20ac\u2122s fine",         # 1 site (2-char lead)
        3: "x\ufffd y\ufffd",                     # 2 replacement chars
        4: "clean ascii text.",                     # 0
        5: "legit: caf\u00e9 na\u00efve \u2014 ok\u2019",  # 0
        6: "\u00c2\u00a0padded",                  # 1 (C2 A0)
        7: "raw\u0080ctl",                         # 1 (bare C1)
        8: None,                                    # NULL text
        9: "",                                      # empty text
    }
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(rows), "text": pd.array(list(rows.values()), dtype="string")}
        ),
        schema="doc_id long, text string",
    )
    got = {r.doc_id: r for r in mojibake_score(df).collect()}
    want_counts = {1: 1, 2: 1, 3: 2, 4: 0, 5: 0, 6: 1, 7: 1, 8: 0, 9: 0}
    for i, want in want_counts.items():
        assert got[i].n_mojibake == want, (i, got[i])
    assert got[3].has_replacement and not got[2].has_replacement
    # NULL/empty: no evidence is not corruption — frac 0.0, not NULL
    assert got[8].n_chars == 0 and got[8].mojibake_frac == 0.0
    assert got[9].mojibake_frac == 0.0 and not got[9].has_replacement
    assert got[1].mojibake_frac == pytest.approx(1 / got[1].n_chars)


def test_mojibake_score_matches_duckdb(docs, duck):
    """Exact DuckDB mirror over documents with planted corruption (the
    synthetic corpus is clean ASCII, so each doc_id stripe gets a
    deterministic artifact appended — both engines build the SAME
    envelope, and the mirror counts with the SAME exported
    MOJIBAKE_RE)."""
    import pyspark.sql.functions as F

    from .conftest import assert_matches_oracle
    from dfsql_spark.operators.text import MOJIBAKE_RE, mojibake_score

    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" caf\u00c3\u00a9"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" it\u00e2\u20ac\u2122s"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" bad\ufffd"))
        .otherwise(F.lit(" clean."))
    )
    planted = docs.select(
        "doc_id", F.concat(F.coalesce(F.col("text"), F.lit("")), suffix).alias("text")
    )
    got = mojibake_score(planted)
    sql_suffix = (
        "CASE CAST(doc_id % 4 AS INT)"
        " WHEN 0 THEN ' caf\u00c3\u00a9'"
        " WHEN 1 THEN ' it\u00e2\u20ac\u2122s'"
        " WHEN 2 THEN ' bad\ufffd'"
        " ELSE ' clean.' END"
    )
    mirror = f"""
        WITH planted AS (
            SELECT doc_id,
                   coalesce(text, '') || {sql_suffix} AS text
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   length(coalesce(text, '')) AS n_chars,
                   CAST(len(regexp_extract_all(coalesce(text, ''),
                        '{MOJIBAKE_RE}')) AS INT) AS n_mojibake,
                   contains(coalesce(text, ''), '\ufffd')
                       AS has_replacement
            FROM planted
        )
        SELECT doc_id, n_chars, n_mojibake,
               CASE WHEN n_chars > 0
                    THEN n_mojibake / n_chars::DOUBLE ELSE 0.0 END
                   AS mojibake_frac,
               has_replacement
        FROM scored
    """
    assert_matches_oracle(got, duck.sql(mirror).df(), "mojibake_score")


def test_mojibake_score_plan_zero_exchange(docs):
    """Pure codegen map: zero exchanges, no Python, pipelines into the
    scan at any corpus scale."""
    from dfsql_spark.operators.text import mojibake_score
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(mojibake_score(docs))
    assert s.n_exchanges == 0, s.text
    assert "Python" not in s.text, s.text


def test_mojibake_score_fuzz_real_corruption(spark):
    """Property fuzz against the REAL corruption process: take clean
    text, corrupt it by the actual wrong-charset decode
    (utf-8 bytes read as latin-1, and as cp1252), and assert the score
    flags every corrupted string that contained a non-ASCII char —
    while the CLEAN original (accented Latin letters, curly
    punctuation) always scores zero.  The alphabet is chosen from
    characters whose 2-/3-byte UTF-8 encodings land in the detector
    families (Latin-1 supplement + the cp1252 punctuation set) — the
    dominant real-world mojibake classes; rarer scripts degrade to
    partial detection by design (documented in the docstring)."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import mojibake_score

    clean_alphabet = (
        "abc XYZ."
        "\u00e9\u00e8\u00fc\u00f1\u00e7\u00f6\u00e5\u00f8\u00a9\u00bd"
        "\u2018\u2019\u201c\u201d\u2013\u2014\u2026"
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(st.text(alphabet=clean_alphabet, max_size=20),
                    min_size=1, max_size=6))
    def inner(texts):
        rows = []
        for i, s in enumerate(texts):
            rows.append((i * 3, "clean", s))
            rows.append((i * 3 + 1, "latin1", s.encode("utf-8").decode("latin-1")))
            rows.append(
                (i * 3 + 2, "cp1252",
                 s.encode("utf-8").decode("cp1252", errors="replace"))
            )
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "kind", "text"]),
            schema="doc_id long, kind string, text string",
        )
        got = {r.doc_id: r for r in mojibake_score(df).collect()}
        for i, s in enumerate(texts):
            has_non_ascii = any(ord(c) > 127 for c in s)
            assert got[i * 3].n_mojibake == 0, (s, "clean text flagged")
            for j in (1, 2):
                if has_non_ascii:
                    assert got[i * 3 + j].n_mojibake > 0, (
                        s, j, "corruption missed")
                else:
                    assert got[i * 3 + j].n_mojibake == 0

    inner()


# ---------------------------------------------------------------------------
# stable content-derived ids + the two-direction id audit
# ---------------------------------------------------------------------------


def test_assign_stable_ids_semantics(spark):
    """Determinism across partition layouts, NULL vs '' injectivity,
    column-boundary injectivity, both algos' dtypes, and every
    validation path."""
    import pandas as pd
    import pytest as _pt

    from dfsql_spark.operators.versioning import assign_stable_ids

    pdf = pd.DataFrame(
        {
            "a": ["ab", "a", None, ""],
            "b": ["c", "bc", "x", "x"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = assign_stable_ids(df, cols=["a", "b"]).collect()
    ids = {(r.a, r.b): r.stable_id for r in out}
    # ('ab','c') vs ('a','bc'): the \x1f separator keeps them apart
    assert ids[("ab", "c")] != ids[("a", "bc")]
    # NULL vs '': the \x00 marker vs the "0:" length prefix
    assert ids[(None, "x")] != ids[("", "x")]
    # pure function of content: any partition layout, same ids
    re_ids = {
        (r.a, r.b): r.stable_id
        for r in assign_stable_ids(
            df.repartition(7, "b"), cols=["a", "b"]
        ).collect()
    }
    assert re_ids == ids
    # dtypes per algo
    assert dict(assign_stable_ids(df).dtypes)["stable_id"] == "bigint"
    md5_out = assign_stable_ids(df, algo="md5")
    assert dict(md5_out.dtypes)["stable_id"] == "string"
    assert all(len(r.stable_id) == 16 for r in md5_out.collect())
    # validation
    with _pt.raises(ValueError, match="at least one column"):
        assign_stable_ids(df, cols=[])
    with _pt.raises(ValueError, match="not in frame"):
        assign_stable_ids(df, cols=["nope"])
    with _pt.raises(ValueError, match="already exists"):
        assign_stable_ids(df.withColumn("stable_id", df.a), cols=["a"])
    with _pt.raises(ValueError, match="unknown algo"):
        assign_stable_ids(df, algo="sha1")


def test_assign_stable_ids_md5_matches_duckdb(spark, duck):
    """The md5 algo is the cross-engine interchange path: DuckDB
    reproduces every id bit-for-bit from the documented canonical
    encoding (length ':' value, chr(0) for NULL, chr(31) between
    columns)."""
    from .conftest import SF_DIR, assert_matches_oracle
    from dfsql_spark.operators.versioning import assign_stable_ids

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    got = assign_stable_ids(docs, cols=["doc_id", "text"], algo="md5")
    want = duck.sql(
        """
        SELECT doc_id, text,
               substring(md5(
                   CASE WHEN doc_id IS NULL THEN chr(0)
                        ELSE CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                             || ':' || CAST(doc_id AS VARCHAR) END
                   || chr(31) ||
                   CASE WHEN text IS NULL THEN chr(0)
                        ELSE CAST(length(text) AS VARCHAR) || ':' || text END
               ), 1, 16) AS stable_id
        FROM documents
        """
    ).df()
    assert_matches_oracle(got, want, "assign_stable_ids_md5")


def test_assign_stable_ids_injective_for_separator_bytes(spark):
    """The encoding must stay injective when VALUES contain the
    \\x1f separator / \\x01 marker bytes (crawl text can): under a
    bare marker+separator scheme ('x\\x1f\\x01y','z') and
    ('x','y\\x1f\\x01z') encode identically and unrelated documents
    silently merge; the length prefix keeps them apart — and the
    audit, built on the SAME encoding, sees the two contents as
    distinct."""
    import pandas as pd

    from dfsql_spark.operators.versioning import (
        assign_stable_ids,
        id_collision_report,
    )

    pdf = pd.DataFrame(
        {
            "a": ["x\x1f\x01y", "x", "1:a", "11:a"],
            "b": ["z", "y\x1f\x01z", "\x1f", "\x00"],
        }
    )
    df = spark.createDataFrame(pdf)
    for algo in ("xxhash64", "md5"):
        ids = [
            r.stable_id
            for r in assign_stable_ids(df, cols=["a", "b"], algo=algo)
            .collect()
        ]
        assert len(set(ids)) == 4, (algo, ids)
    # the audit fingerprints the same injective encoding: give all
    # four distinct contents ONE id and it must report that id as a
    # 4-peer collision (the pre-fix encoding saw only 3 contents)
    one_id = df.withColumn("stable_id", F.lit("same"))
    rows = id_collision_report(one_id, cols=["a", "b"]).collect()
    assert [(r.kind, r.n_peers, r.n_rows) for r in rows] == [
        ("collision", 4, 4)
    ]


def test_id_collision_report_hand_pinned(spark):
    """One planted collision (id A covers two contents), one planted
    fragmentation (content 'dup' under ids B and C), one healthy row —
    exactly two report rows, each with the right peers/rows."""
    import pandas as pd

    from dfsql_spark.operators.versioning import id_collision_report

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "stable_id": ["A", "A", "A", "B", "C", "D"],
                "text": ["c1", "c1", "c2", "dup", "dup", "ok"],
            }
        )
    )
    rows = {
        (r.kind, r.key): (r.n_peers, r.n_rows)
        for r in id_collision_report(df).collect()
    }
    assert len(rows) == 2
    assert rows[("collision", "A")] == (2, 3)
    frag = [k for k in rows if k[0] == "fragmentation"]
    assert len(frag) == 1 and rows[frag[0]] == (2, 2)
    # healthy ids -> empty report
    healthy = spark.createDataFrame(
        pd.DataFrame({"stable_id": ["x", "y"], "text": ["1", "2"]})
    )
    assert id_collision_report(healthy).count() == 0


def test_id_collision_report_matches_duckdb(spark, duck):
    """Exact mirror over documents with a deliberately colliding id
    (doc_id % 97) and a low-cardinality content column (source) so
    both directions fire: DuckDB rebuilds the pair relation and both
    offender aggregates from the same canonical encoding."""
    import pyspark.sql.functions as F

    from .conftest import SF_DIR, assert_matches_oracle
    from dfsql_spark.operators.versioning import id_collision_report

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select((F.col("doc_id") % 97).alias("bad_id"), "source")
    )
    got = id_collision_report(docs, cols=["source"], id_col="bad_id")
    want = duck.sql(
        """
        WITH pairs AS (
            SELECT CAST(doc_id % 97 AS VARCHAR) AS id,
                   md5(CASE WHEN source IS NULL THEN chr(0)
                            ELSE CAST(length(source) AS VARCHAR)
                                 || ':' || source END) AS fp,
                   count(*) AS n
            FROM documents GROUP BY 1, 2
        ), c AS (
            SELECT 'collision' AS kind, id AS key,
                   count(*)::INT AS n_peers, sum(n)::BIGINT AS n_rows
            FROM pairs GROUP BY id HAVING count(*) > 1
        ), f AS (
            SELECT 'fragmentation' AS kind, fp AS key,
                   count(*)::INT AS n_peers, sum(n)::BIGINT AS n_rows
            FROM pairs GROUP BY fp HAVING count(*) > 1
        )
        SELECT * FROM c UNION ALL SELECT * FROM f
        """
    ).df()
    assert_matches_oracle(got, want, "id_collision_report")


def test_assign_stable_ids_plan_map_only(docs):
    """Id assignment is pure codegen map — zero exchanges, no Python —
    so it pipelines into any downstream operator's scan; the audit
    shuffles only the (id, fingerprint) pair projection, never
    documents (no full-width columns below its first exchange)."""
    from dfsql_spark.operators.versioning import (
        assign_stable_ids,
        id_collision_report,
    )
    from dfsql_spark.plans.audit import plan_summary

    s = plan_summary(assign_stable_ids(docs, cols=["doc_id", "text"]))
    assert s.n_exchanges == 0, s.text
    assert "Python" not in s.text, s.text
    r = plan_summary(id_collision_report(docs, cols=["text"], id_col="doc_id"))
    assert "Python" not in r.text, r.text
    # map-side partial aggregation collapses the corpus before the
    # first exchange: the shuffled relation is the hashed pair, and
    # the raw text column never crosses an exchange boundary
    assert "partial" in r.text.lower(), r.text


# ---------------------------------------------------------------------------
# temporal-join fuzz: asof_join vs pandas.merge_asof, range_join vs a
# naive cross+filter — independent single-node oracles for the two
# distributed formulations (union+window carry-forward; bin-exploded
# equi-join)
# ---------------------------------------------------------------------------


def test_asof_join_fuzz_vs_pandas_merge_asof(spark):
    """Random (key, ts) universes on both sides, both allow_equal
    modes, against pandas.merge_asof (direction='backward') — a
    completely different algorithm family (sorted merge scan vs the
    union + last-non-null window carry).  Right (key, ts) pairs are
    unique by construction: equal-ts right ties are documented as
    nondeterministic in the window formulation, so a fuzz over them
    would pin an ordering neither engine promises."""
    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.joins import asof_join

    left_rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # key
            st.integers(min_value=0, max_value=25),  # ts (dups fine)
        ),
        min_size=1,
        max_size=10,
    )
    right_rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key (3 never in left)
            st.integers(min_value=0, max_value=25),  # ts
        ),
        min_size=1,
        max_size=10,
        unique=True,  # (k, ts) unique -> deterministic tie-free oracle
    )

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(left_rows, right_rows, st.booleans())
    def inner(lrows, rrows, allow_equal):
        lpdf = pd.DataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(lrows)],
            columns=["k", "ts", "tag"],
        )
        rpdf = pd.DataFrame(
            [(k, ts, 10 * ts + k) for (k, ts) in rrows],
            columns=["k", "ts", "v"],
        )
        want_df = pd.merge_asof(
            lpdf.sort_values("ts", kind="stable"),
            rpdf.sort_values("ts", kind="stable"),
            on="ts",
            by="k",
            direction="backward",
            allow_exact_matches=allow_equal,
            suffixes=("", "_right"),
        )
        want = {
            int(r.tag): None if pd.isna(r.v) else int(r.v)
            for r in want_df.itertuples()
        }
        ldf = spark.createDataFrame(lpdf)
        rdf = spark.createDataFrame(rpdf)
        got_rows = asof_join(
            ldf, rdf, on="k", right_cols=["v"], allow_equal=allow_equal
        ).collect()
        assert len(got_rows) == len(lrows)  # left-outer: no blowup/loss
        got = {
            r["tag"]: None if r["v_right"] is None else int(r["v_right"])
            for r in got_rows
        }
        assert got == want, (lrows, rrows, allow_equal)
        # matched ts must actually be the asof ts: <= (or <) left ts
        for r in got_rows:
            if r["ts_right"] is not None:
                if allow_equal:
                    assert r["ts_right"] <= r["ts"]
                else:
                    assert r["ts_right"] < r["ts"]

    inner()


def test_range_join_fuzz_vs_cross_filter(spark):
    """Random points and intervals at several bin widths (including a
    bin wider than the whole domain, where the formulation degenerates
    to the naive cross+filter it must equal): every inclusive
    containment pair, exactly once, regardless of how intervals split
    across bins."""
    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.joins import range_join

    points = st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=10
    )
    intervals = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=12),  # length
        ),
        min_size=1,
        max_size=8,
    )

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(points, intervals, st.sampled_from([1, 3, 7, 100]))
    def inner(pts, ivs, bin_seconds):
        ppdf = pd.DataFrame(
            [(i, p) for i, p in enumerate(pts)], columns=["pid", "p"]
        )
        ipdf = pd.DataFrame(
            [(j, s, s + ln) for j, (s, ln) in enumerate(ivs)],
            columns=["iid", "s", "e"],
        )
        want = sorted(
            (int(pr.pid), int(ir.iid))
            for pr in ppdf.itertuples()
            for ir in ipdf.itertuples()
            if ir.s <= pr.p <= ir.e
        )
        got = sorted(
            (r["pid"], r["iid"])
            for r in range_join(
                spark.createDataFrame(ppdf),
                spark.createDataFrame(ipdf),
                "p", "s", "e",
                bin_seconds=bin_seconds,
            ).collect()
        )
        assert got == want, (pts, ivs, bin_seconds)

    inner()


# ---------------------------------------------------------------------------
# pagerank: crawl-graph authority ranking
# ---------------------------------------------------------------------------


def test_pagerank_hand_pinned(spark):
    """Closed-form fixpoints: a 2-cycle and a complete K3 are regular
    graphs whose uniform distribution is exact from round one; a
    dangling sink's fixpoint is solvable by hand."""
    import pytest as _pt

    from dfsql_spark.operators.web import pagerank

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r.node: r.rank for r in pagerank(cyc, max_iter=3).collect()}
    assert got["a"] == pytest.approx(0.5) and got["b"] == pytest.approx(0.5)

    k3 = spark.createDataFrame(
        [(a, b) for a in "xyz" for b in "xyz" if a != b],
        "src string, dst string",
    )
    for r in pagerank(k3, max_iter=3).collect():
        assert r.rank == pytest.approx(1.0 / 3.0)

    # regular graph: uniform is the fixpoint, so the tol path
    # converges on the FIRST delta measurement instead of raising
    got = pagerank(cyc, max_iter=2, tol=1e-9).collect()
    assert {r.node for r in got} == {"a", "b"}

    # validation
    with _pt.raises(ValueError, match="damping"):
        pagerank(cyc, damping=1.0)
    with _pt.raises(ValueError, match="max_iter"):
        pagerank(cyc, max_iter=0)
    with _pt.raises(ValueError, match="tol"):
        pagerank(cyc, tol=0.0)
    with _pt.raises(ValueError, match="empty"):
        pagerank(cyc.filter("src = 'missing'"))


def test_pagerank_nonconvergence_raises(spark):
    """tol set + not reachable within max_iter -> RuntimeError (the
    connected_components silent-partial-result precedent), never a
    quietly half-converged ranking."""
    import pytest as _pt

    from dfsql_spark.operators.web import pagerank

    # a directed chain is far from its fixpoint after one round
    chain = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(6)], "src string, dst string"
    )
    with _pt.raises(RuntimeError, match="did not converge"):
        pagerank(chain, max_iter=1, tol=1e-12)


def test_pagerank_fuzz_vs_numpy_power_iteration(spark):
    """Random small multigraphs (parallel edges, self-loops, dangling
    nodes all arise) against an independent dense NumPy power
    iteration running the SAME number of rounds — agreement to 1e-9
    pins the whole formula: multi-edge weighting, dangling
    redistribution, teleport term.  Ranks must also sum to 1."""
    import numpy as np

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.web import pagerank

    edges_s = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=18,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges_s, st.sampled_from([0.5, 0.85]))
    def inner(pairs, d):
        iters = 6
        nodes = sorted({u for e in pairs for u in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        deg = np.zeros(n)
        for s, _t in pairs:
            deg[idx[s]] += 1
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            mass = np.zeros(n)
            for s, t in pairs:
                mass[idx[t]] += r[idx[s]] / deg[idx[s]]
            dang = r[deg == 0].sum()
            r = (1.0 - d) / n + d * (mass + dang / n)

        df = spark.createDataFrame(
            [(str(a), str(b)) for a, b in pairs], "src string, dst string"
        )
        got = {
            int(row.node): row.rank
            for row in pagerank(df, damping=d, max_iter=iters).collect()
        }
        assert set(got) == set(nodes)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
        for v in nodes:
            assert got[v] == pytest.approx(r[idx[v]], abs=1e-9), (pairs, d, v)

    inner()


def test_bm25_topk_fuzz_vs_python_reference(spark):
    """Random small corpora and queries against an independent
    plain-Python Lucene-BM25 (tf/df/avgdl/idf all recomputed from
    scratch): per-query (doc -> score) maps must agree to 1e-9, and
    the returned ranking must be non-increasing in score.  k exceeds
    the corpus so float-tie rank order (doc_id tie-break at equal
    scores summed in different orders) never truncates differently."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.text import bm25_topk

    WORDS = ["aa", "bb", "cc", "dd", "ee"]
    doc_s = st.lists(st.sampled_from(WORDS), min_size=1, max_size=8)
    corpus_s = st.lists(doc_s, min_size=1, max_size=6)
    query_s = st.lists(st.sampled_from(WORDS), min_size=1, max_size=3)
    queries_s = st.lists(query_s, min_size=1, max_size=3)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus_s, queries_s)
    def inner(docs_tokens, qs_tokens):
        k1, b = 1.2, 0.75
        n = len(docs_tokens)
        dls = [len(d) for d in docs_tokens]
        avgdl = sum(dls) / n
        dfreq: dict = {}
        for d in docs_tokens:
            for t in set(d):
                dfreq[t] = dfreq.get(t, 0) + 1

        def py_scores(qtoks):
            out = {}
            for i, d in enumerate(docs_tokens):
                s, matched = 0.0, False
                for t in set(qtoks):
                    tf = d.count(t)
                    if tf == 0:
                        continue
                    matched = True
                    idf = math.log(
                        1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
                    )
                    s += idf * (tf * (k1 + 1)) / (
                        tf + k1 * (1 - b + b * dls[i] / avgdl)
                    )
                if matched:
                    out[i] = s
            return out

        ddf = spark.createDataFrame(
            [(i, " ".join(d)) for i, d in enumerate(docs_tokens)],
            "doc_id int, text string",
        )
        qdf = spark.createDataFrame(
            [(j, " ".join(q)) for j, q in enumerate(qs_tokens)],
            "query_id int, text string",
        )
        rows = bm25_topk(ddf, qdf, k=20).collect()
        got: dict = {}
        for r in rows:
            got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
        for j, q in enumerate(qs_tokens):
            want = py_scores(q)
            mine = sorted(got.get(j, []))
            assert {d for _, d, _ in mine} == set(want), (docs_tokens, q)
            for rank, d, s in mine:
                assert s == pytest.approx(want[d], abs=1e-9), (q, d)
            scores = [s for _, _, s in mine]
            assert all(
                scores[i] >= scores[i + 1] - 1e-9
                for i in range(len(scores) - 1)
            )

    inner()


def test_canonicalize_url_fuzz_constructive_oracle(spark):
    """Generation-based oracle: URLs are BUILT from known components
    with randomized noise (scheme case, www., default ports, userinfo,
    tracking params, param order, trailing slash, fragment), so the
    canonical form is known by construction — no re-implementation of
    the rules on the oracle side to share a bug with."""
    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.web import canonicalize_url

    params_pool = [
        ("utm_source", "x", True),
        ("utm_campaign", "y", True),
        ("gclid", "1", True),
        ("ref", "h", True),
        ("q", "Z", False),
        ("a", "1", False),
        ("b", "2", False),
    ]

    @st.composite
    def url_case(draw):
        scheme = draw(st.sampled_from(["http", "https"]))
        scheme_raw = draw(
            st.sampled_from([scheme, scheme.upper(), scheme.capitalize()])
        )
        explicit_scheme = draw(st.booleans()) or scheme == "https"
        host = draw(st.sampled_from(["example.com", "sub.domain.org", "a-b.net"]))
        host_raw = draw(st.sampled_from([host, host.upper(), host.title()]))
        if draw(st.booleans()):
            host_raw = "www." + host_raw
        userinfo = draw(st.sampled_from(["", "user@", "u:pw@"]))
        port = draw(st.sampled_from([None, "default", 8080]))
        default_port = 80 if scheme == "http" else 443
        port_raw = (
            "" if port is None
            else f":{default_port}" if port == "default"
            else f":{port}"
        )
        segs = draw(
            st.lists(st.sampled_from(["a", "B2", "x-y"]), max_size=3)
        )
        trail = draw(st.booleans()) and segs
        pchosen = draw(
            st.lists(st.sampled_from(params_pool), max_size=4, unique=True)
        )
        frag = draw(st.sampled_from(["", "#frag", "#x=1"]))

        path_raw = "/" + "/".join(segs) + ("/" if trail else "") if segs else (
            "/" if draw(st.booleans()) else ""
        )
        q_raw = "&".join(f"{k}={v}" for k, v, _ in pchosen)
        raw = (
            (f"{scheme_raw}://" if explicit_scheme else "")
            + userinfo + host_raw + port_raw + path_raw
            + (f"?{q_raw}" if q_raw else "") + frag
        )
        # canonical form, by construction
        kept = sorted(f"{k}={v}" for k, v, tracking in pchosen if not tracking)
        want = (
            f"{scheme}://{host}"
            + ("" if port in (None, "default") else f":{port}")
            + ("/" + "/".join(segs) if segs else "/")
            + (f"?{'&'.join(kept)}" if kept else "")
        )
        return raw, want

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(url_case(), min_size=1, max_size=25))
    def inner(cases):
        pdf = pd.DataFrame(
            {"i": range(len(cases)), "url": [c[0] for c in cases]}
        )
        got = {
            r.i: r.canonical_url
            for r in canonicalize_url(spark.createDataFrame(pdf)).collect()
        }
        for i, (raw, want) in enumerate(cases):
            assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"

    inner()


def test_lsh_plan_matches_numpy_integration_and_properties():
    """Driver-side planner: error areas match an independent NumPy
    trapezoid integration of the MMDS S-curve to 1e-3, s50 is the
    closed form (1/b)^(1/r), hand-pinned choices at 64 perms, and
    weighting false negatives heavier never increases the chosen
    plan's fn_area."""
    import numpy as np
    import pytest as _pt

    from dfsql_spark.operators.dedup import lsh_plan

    def np_areas(b, r, t):
        s = np.linspace(0.0, 1.0, 20001)
        p = 1.0 - (1.0 - s**r) ** b
        below = s < t
        fp = np.trapz(np.where(below, p, 0.0), s)
        fn = np.trapz(np.where(~below, 1.0 - p, 0.0), s)
        return fp, fn

    for t in (0.3, 0.5, 0.7, 0.9):
        best = lsh_plan(t, num_perm=64)
        assert best["bands"] * best["rows"] == 64
        assert best["s50"] == pytest.approx(
            (1.0 / best["bands"]) ** (1.0 / best["rows"])
        )
        fp, fn = np_areas(best["bands"], best["rows"], t)
        assert best["fp_area"] == pytest.approx(fp, abs=1e-3)
        assert best["fn_area"] == pytest.approx(fn, abs=1e-3)
        # the chosen plan must actually beat every other divisor pair
        # under the independent integration too
        for b in (1, 2, 4, 8, 16, 32, 64):
            ofp, ofn = np_areas(b, 64 // b, t)
            assert fp + fn <= ofp + ofn + 2e-3, (t, b)

    # MMDS intuition pins: loose threshold -> many bands, tight -> few
    assert lsh_plan(0.5, num_perm=64)["bands"] == 16
    assert lsh_plan(0.8, num_perm=64)["bands"] <= 8

    # recall-leaning weighting can only lower the chosen fn_area
    base = lsh_plan(0.8, num_perm=64)
    recall = lsh_plan(0.8, num_perm=64, fn_weight=10.0)
    assert recall["fn_area"] <= base["fn_area"]

    with _pt.raises(ValueError, match="threshold"):
        lsh_plan(1.0)
    with _pt.raises(ValueError, match="num_perm"):
        lsh_plan(0.5, num_perm=1)
    with _pt.raises(ValueError, match="grid"):
        lsh_plan(0.5, grid=5)


def test_pagerank_releases_persists_and_weights_stay_put(spark):
    """Two scale contracts: (1) pagerank leaves NO cached plans behind
    — its static relations (nodes, weights, has_out) unpersist on
    every exit path including the nonconvergence raise; (2) the
    Spark behavior its no-edge-reshuffle claim rests on holds: a
    PERSISTED repartition("k") survives into a sort-merge join
    without a fresh Exchange on that side (a localCheckpoint of the
    same relation forgets its partitioning and re-exchanges — the
    round-14 plan-audit finding that moved the implementation from
    checkpoint to persist for the static side)."""
    import pyspark.sql.functions as F
    import pytest as _pt

    from dfsql_spark.operators.web import pagerank

    # DELTA check, not global-empty: in full-suite order other tests
    # legitimately hold module-scoped persists while this one runs.
    # cacheManager counts persist() entries and ignores the
    # localCheckpoint RDDs the returned ranks legitimately keep.
    cm = spark._jsparkSession.sharedState().cacheManager()

    def n_persisted():
        return cm.cachedData().size()

    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(8)], "src string, dst string"
    )
    before = n_persisted()
    pagerank(edges, max_iter=2).collect()
    assert n_persisted() == before, "pagerank left persisted plans behind"
    with _pt.raises(RuntimeError):
        pagerank(edges, max_iter=1, tol=1e-12)
    assert n_persisted() == before, "raise path leaked persisted plans"

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        e = spark.range(5000).select(
            (F.col("id") % 97).cast("string").alias("src"),
            ((F.col("id") * 31 + 7) % 97).cast("string").alias("dst"),
        )
        ranks = (
            e.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("rank", F.col("node").cast("double") / 100.0)
        )
        persisted = e.repartition("src").persist()
        try:
            joined = (
                persisted.join(ranks, persisted.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum("rank").alias("m"))
            )
            joined.collect()  # finalize the AQE plan before reading it
            plan = joined._jdf.queryExecution().executedPlan().toString()
            lines = plan.splitlines()
            # AQE's toString prints the join twice (Final + Initial
            # plan sections); the FIRST occurrence is the executed one
            smj = [i for i, l in enumerate(lines) if "SortMergeJoin" in l]
            assert smj, plan  # the forced regime must plan an SMJ
            # the persisted (weights) side is the join's LEFT leg
            # (lines prefixed ':'): it must read straight from the
            # in-memory relation with NO Exchange between the join
            # and the cache scan (the Exchange INSIDE the
            # InMemoryRelation is the one-time repartition)
            leg = []
            for l in lines[smj[0] + 1:]:
                if not l.strip().startswith(":"):
                    break
                if "InMemoryTableScan" in l:
                    leg_ok = True
                    break
                leg.append(l)
            else:
                leg_ok = False
            assert leg_ok, plan
            assert not any("Exchange" in l for l in leg), plan
        finally:
            persisted.unpersist()
    finally:
        if old_thresh is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )


# ---------------------------------------------------------------------------
# robots.txt: parse + RFC 9309 longest-match filtering
# ---------------------------------------------------------------------------

_ROBOTS_BODY = """
# site policy
User-agent: gptbot
Disallow: /

User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /*.pdf$
Disallow:
Crawl-delay: 10

User-agent: researchbot
User-agent: otherbot
Allow: /private
Disallow: /tmp
"""


def test_parse_robots_hand_pinned(spark):
    """Group selection (exact UA beats *, multi-UA groups merge),
    comments and unknown fields ignored, empty Disallow is a no-op,
    wildcard and $ compile to anchored regexes."""
    import pandas as pd

    from dfsql_spark.operators.web import parse_robots

    df = spark.createDataFrame(
        pd.DataFrame({"host": ["ex.com"], "robots_txt": [_ROBOTS_BODY]})
    )
    star = {
        (r.allow, r.pattern): (r.regex, r.specificity)
        for r in parse_robots(df).collect()
    }
    assert set(star) == {
        (False, "/private"),
        (True, "/private/ok"),
        (False, "/*.pdf$"),
    }
    assert star[(False, "/*.pdf$")][0] == r"^/.*\.pdf$"
    assert star[(False, "/private")] == ("^/private", 8)

    named = {
        (r.allow, r.pattern)
        for r in parse_robots(df, user_agent="ResearchBot").collect()
    }
    assert named == {(True, "/private"), (False, "/tmp")}
    # gptbot gets its own total-disallow group, not the * group
    gpt = parse_robots(df, user_agent="gptbot").collect()
    assert [(r.allow, r.pattern) for r in gpt] == [(False, "/")]
    # no body -> no rules
    empty = spark.createDataFrame(
        pd.DataFrame({"host": ["e.com"], "robots_txt": [None]})
    )
    assert parse_robots(empty).count() == 0


def test_parse_robots_unknown_field_keeps_ua_run_open(spark):
    """RFC 9309 §2.2.4: records outside the group grammar
    (Crawl-delay, Sitemap, ...) must not terminate a User-agent run —
    'UA: a / Crawl-delay: 1 / UA: * / Disallow: /x' is ONE group
    naming both agents, so agent 'a' keeps the Disallow (the common
    parsers' merge behavior; the pre-fix parser split the group and
    agent 'a' silently lost every rule)."""
    import pandas as pd

    from dfsql_spark.operators.web import parse_robots

    body = (
        "User-agent: a\n"
        "Crawl-delay: 1\n"
        "User-agent: *\n"
        "Disallow: /x\n"
        "Sitemap: https://ex.com/sitemap.xml\n"
        "Allow: /x/ok\n"
    )
    df = spark.createDataFrame(
        pd.DataFrame({"host": ["ex.com"], "robots_txt": [body]})
    )
    for ua in ("a", "*"):
        rules = {
            (r.allow, r.pattern)
            for r in parse_robots(df, user_agent=ua).collect()
        }
        assert rules == {(False, "/x"), (True, "/x/ok")}, ua
    # a rule line still closes the run: a UA line after Disallow
    # opens a NEW group
    body2 = "User-agent: a\nDisallow: /y\nUser-agent: b\nDisallow: /z\n"
    df2 = spark.createDataFrame(
        pd.DataFrame({"host": ["ex.com"], "robots_txt": [body2]})
    )
    only_b = {
        (r.allow, r.pattern)
        for r in parse_robots(df2, user_agent="b").collect()
    }
    assert only_b == {(False, "/z")}


def test_robots_filter_rfc_decisions(spark):
    """RFC 9309 decision table over one host: longest match wins,
    Allow beats Disallow on a specificity tie, unmatched paths and
    rule-less hosts fall back to default_allow."""
    import pandas as pd

    from dfsql_spark.operators.web import parse_robots, robots_filter

    rules = parse_robots(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "host": ["ex.com", "tie.com"],
                    "robots_txt": [
                        _ROBOTS_BODY,
                        "User-agent: *\nAllow: /p\nDisallow: /p\n",
                    ],
                }
            )
        )
    )
    urls = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://ex.com/",               # no match -> allow
                    "https://ex.com/private",        # disallow
                    "https://ex.com/private/ok",     # deeper allow wins
                    "https://ex.com/private/no",     # /private wins
                    "https://ex.com/docs/x.pdf",     # wildcard$ disallow
                    "https://ex.com/docs/x.pdfx",    # $ anchor -> allowed
                    "https://www.EX.com:443/private",  # host canon applies
                    "https://tie.com/p",             # tie -> allow wins
                    "https://norules.com/anything",  # rule-less host
                ]
            }
        )
    )
    kept = {r.url for r in robots_filter(urls, rules).collect()}
    assert kept == {
        "https://ex.com/",
        "https://ex.com/private/ok",
        "https://ex.com/docs/x.pdfx",
        "https://tie.com/p",
        "https://norules.com/anything",
    }
    # default_allow=False keeps ONLY explicitly-allowed urls: x.pdfx
    # matches no rule at all, so it falls to the default and drops
    strict = {r.url for r in robots_filter(urls, rules, default_allow=False).collect()}
    assert strict == {
        "https://ex.com/private/ok",
        "https://tie.com/p",
    }


def test_robots_filter_fuzz_vs_python_reference(spark):
    """Random rule sets and paths against an independent plain-Python
    longest-match evaluator (regexes recompiled from the raw patterns
    with re, not the operator's compiler)."""
    import re as _re

    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.web import parse_robots, robots_filter

    seg = st.sampled_from(["/a", "/b", "/ab", "/a/b", "/*", "/a*b"])
    rule_s = st.tuples(st.booleans(), seg, st.booleans())  # (allow, pat, $)
    rules_s = st.lists(rule_s, min_size=1, max_size=6)
    path_s = st.sampled_from(
        ["/", "/a", "/ab", "/abb", "/a/b", "/a/bb", "/b/a", "/axb"]
    )
    paths_s = st.lists(path_s, min_size=1, max_size=8)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rules_s, paths_s)
    def inner(rule_specs, paths):
        body = "User-agent: *\n" + "\n".join(
            f"{'Allow' if a else 'Disallow'}: {p}{'$' if d else ''}"
            for a, p, d in rule_specs
        )

        def py_keep(path):
            best = None  # (spec, allow)
            for a, p, d in rule_specs:
                pat = p + ("$" if d else "")
                rx = "^" + _re.escape(p).replace(r"\*", ".*") + ("$" if d else "")
                if _re.match(rx, path):
                    key = (len(pat), a)
                    if best is None or key > best:
                        best = key
            return True if best is None else best[1]

        rules = parse_robots(
            spark.createDataFrame(
                pd.DataFrame({"host": ["h.com"], "robots_txt": [body]})
            )
        )
        urls = spark.createDataFrame(
            pd.DataFrame(
                {"url": [f"https://h.com{p}" for p in sorted(set(paths))]}
            )
        )
        kept = {r.url for r in robots_filter(urls, rules).collect()}
        want = {
            f"https://h.com{p}" for p in sorted(set(paths)) if py_keep(p)
        }
        assert kept == want, (body, sorted(set(paths)))

    inner()


def test_robots_filter_plan_no_explode_and_broadcast(spark):
    """The decision evaluates inside the row: no Generate (explode)
    per rule, the per-host rule table broadcasts, no Python in the
    URL-side plan (the parse is upstream, on the tiny robots table)."""
    import pandas as pd

    from dfsql_spark.operators.web import parse_robots, robots_filter
    from dfsql_spark.plans.audit import plan_summary

    rules = parse_robots(
        spark.createDataFrame(
            pd.DataFrame({"host": ["ex.com"], "robots_txt": [_ROBOTS_BODY]})
        )
    )
    urls = spark.createDataFrame(
        pd.DataFrame({"url": ["https://ex.com/a", "https://ex.com/b"]})
    )
    s = plan_summary(robots_filter(urls, rules))
    assert "Generate" not in s.text, s.text
    assert "BroadcastHashJoin" in s.text or "BroadcastExchange" in s.text, s.text


def test_robots_filter_matches_duckdb_mirror(spark, duck):
    """Exact DuckDB mirror of the full decision over the documents
    table's synthetic urls: the rule table (parsed once by
    parse_robots, collected — it is policy-sized, not corpus-sized)
    registers as a DuckDB relation, and the mirror rebuilds host
    extraction, per-rule regex matching, and the
    (specificity, allow) argmax with ANSI SQL window functions."""
    import pandas as pd

    import pyspark.sql.functions as F

    from .conftest import SF_DIR, assert_matches_oracle
    from dfsql_spark.operators.web import parse_robots, robots_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/"),
            F.element_at(
                F.array(F.lit("a"), F.lit("private"), F.lit("private/ok"),
                        F.lit("docs"), F.lit("x.pdf")),
                (F.col("doc_id") % 5 + 1).cast("int"),
            ),
        ).alias("url"),
    )
    bodies = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": [f"h{i}.com" for i in range(5)],  # h5/h6 rule-less
                "robots_txt": [
                    "User-agent: *\nDisallow: /private\nAllow: /private/ok\n",
                    "User-agent: *\nDisallow: /*.pdf$\n",
                    "User-agent: *\nDisallow: /\n",
                    "User-agent: *\nAllow: /p\nDisallow: /p\n",
                    "User-agent: *\nDisallow:\n",
                ],
            }
        )
    )
    rules = parse_robots(bodies)
    got = robots_filter(docs, rules).select("doc_id", "url")

    duck.register("robots_rules", rules.toPandas())
    want = duck.sql(
        """
        WITH urls AS (
            SELECT doc_id,
                   'https://h' || (doc_id % 7) || '.com/' ||
                   CASE (doc_id % 5) WHEN 0 THEN 'a' WHEN 1 THEN 'private'
                        WHEN 2 THEN 'private/ok' WHEN 3 THEN 'docs'
                        ELSE 'x.pdf' END AS url,
                   'h' || (doc_id % 7) || '.com' AS host,
                   '/' || CASE (doc_id % 5) WHEN 0 THEN 'a'
                        WHEN 1 THEN 'private' WHEN 2 THEN 'private/ok'
                        WHEN 3 THEN 'docs' ELSE 'x.pdf' END AS path
            FROM documents
        ), matched AS (
            SELECT u.doc_id, u.url, r.allow,
                   row_number() OVER (
                       PARTITION BY u.doc_id
                       ORDER BY r.specificity DESC,
                                CASE WHEN r.allow THEN 1 ELSE 0 END DESC
                   ) AS rk
            FROM urls u JOIN robots_rules r
              ON u.host = r.host AND regexp_matches(u.path, r.regex)
        ), decided AS (
            SELECT doc_id, url FROM matched WHERE rk = 1 AND allow
        )
        SELECT doc_id, url FROM decided
        UNION ALL
        SELECT u.doc_id, u.url FROM urls u
        WHERE NOT EXISTS (
            SELECT 1 FROM robots_rules r
            WHERE r.host = u.host AND regexp_matches(u.path, r.regex)
        )
        """
    ).df()
    duck.unregister("robots_rules")
    assert_matches_oracle(got, want, "robots_filter")


def test_cohort_retention_fuzz_vs_pandas_reference(spark):
    """Random (user, day) activity sets at all three grains against an
    independent plain-pandas computation (first-activity cohort +
    bucket arithmetic done with datetime math, not Spark functions)."""
    import datetime as _dt

    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.rollup import cohort_retention

    events_s = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),    # user
            st.integers(min_value=0, max_value=120),  # day offset
        ),
        min_size=1,
        max_size=30,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(events_s, st.sampled_from(["day", "week", "month"]))
    def inner(events, grain):
        base = _dt.datetime(2026, 1, 1, 12, 0, 0)  # a Thursday, mid-day
        rows = [
            (u, base + _dt.timedelta(days=d)) for u, d in events
        ]

        def bucket(ts):
            d = ts.date()
            if grain == "day":
                return d
            if grain == "week":
                return d - _dt.timedelta(days=d.weekday())
            return d.replace(day=1)

        def months_between(b, c):
            return (b.year - c.year) * 12 + (b.month - c.month)

        first = {}
        for u, ts in rows:
            b = bucket(ts)
            if u not in first or b < first[u]:
                first[u] = b
        want: dict = {}
        for u, ts in rows:
            b, c = bucket(ts), first[u]
            if grain == "month":
                p = months_between(b, c)
            else:
                p = (b - c).days // (7 if grain == "week" else 1)
            want.setdefault((c, p), set()).add(u)
        want = {k: len(v) for k, v in want.items()}

        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts"])
        )
        got = {
            (r.cohort.date(), r.period): r.n_users
            for r in cohort_retention(df, grain=grain).collect()
        }
        assert got == want, (events, grain)

    inner()


def test_link_graph_report_hand_pinned_and_duckdb(spark, duck):
    """Hand-pinned card over a small graph with every pathology
    (self-loop, dangling node, duplicate edge, reciprocal pair), then
    an exact DuckDB mirror over a documents-derived synthetic edge
    list."""
    import pandas as pd

    import pyspark.sql.functions as F

    from .conftest import SF_DIR, assert_matches_oracle
    from dfsql_spark.operators.web import link_graph_report

    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": ["a", "a", "b", "c", "c", "d"],
                "dst": ["b", "b", "a", "c", "d", "e"],
            }
        )
    )
    row = link_graph_report(edges).collect()[0]
    # distinct edges: a->b, b->a, c->c, c->d, d->e (dup a->b collapses)
    assert row.n_nodes == 5 and row.n_edges == 5
    assert row.n_self_loops == 1
    assert row.n_dangling == 1  # e has no out-edge
    assert row.max_out_degree == 2  # c: c->c, c->d
    # non-loop edges: a->b, b->a, c->d, d->e; reciprocal: the a/b pair
    assert row.reciprocity == pytest.approx(0.5)

    docs_edges = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            (F.col("doc_id") % 101).cast("string").alias("src"),
            ((F.col("doc_id") * 7 + 3) % 101).cast("string").alias("dst"),
        )
    )
    got = link_graph_report(docs_edges)
    want = duck.sql(
        """
        WITH e AS (
            SELECT DISTINCT CAST(doc_id % 101 AS VARCHAR) AS src,
                   CAST((doc_id * 7 + 3) % 101 AS VARCHAR) AS dst
            FROM documents
        ), nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ), outdeg AS (
            SELECT src, count(*) AS d FROM e GROUP BY src
        ), nl AS (
            SELECT * FROM e WHERE src <> dst
        )
        SELECT (SELECT count(*) FROM nodes)::BIGINT AS n_nodes,
               (SELECT count(*) FROM e)::BIGINT AS n_edges,
               (SELECT count(*) FROM e WHERE src = dst)::BIGINT
                   AS n_self_loops,
               (SELECT count(*) FROM nodes
                WHERE node NOT IN (SELECT src FROM outdeg))::BIGINT
                   AS n_dangling,
               (SELECT max(d) FROM outdeg)::BIGINT AS max_out_degree,
               (SELECT count(*) FROM nl a
                WHERE EXISTS (SELECT 1 FROM nl b
                              WHERE b.src = a.dst AND b.dst = a.src))
                   / (SELECT count(*) FROM nl)::DOUBLE AS reciprocity
        """
    ).df()
    assert_matches_oracle(got, want, "link_graph_report")


def test_link_graph_report_fuzz_vs_python(spark):
    """Random small multigraphs against a from-scratch Python
    computation of all six card fields."""
    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.web import link_graph_report

    edges_s = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=20,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges_s)
    def inner(pairs):
        e = {(str(a), str(b)) for a, b in pairs}
        nodes = {x for p in e for x in p}
        out = {}
        for s, _d in e:
            out[s] = out.get(s, 0) + 1
        nl = {(s, d) for s, d in e if s != d}
        recip = sum(1 for s, d in nl if (d, s) in nl)
        row = link_graph_report(
            spark.createDataFrame(
                pd.DataFrame(pairs, columns=["src", "dst"]).astype(str)
            )
        ).collect()[0]
        assert row.n_nodes == len(nodes)
        assert row.n_edges == len(e)
        assert row.n_self_loops == sum(1 for s, d in e if s == d)
        assert row.n_dangling == sum(1 for x in nodes if x not in out)
        assert row.max_out_degree == max(out.values())
        want_r = recip / len(nl) if nl else 0.0
        assert row.reciprocity == pytest.approx(want_r)

    inner()


def test_url_dedup_fuzz_constructed_variant_groups(spark):
    """Generation-based: build groups of URL spelling variants whose
    canonical form is known by construction, assign distinct doc ids,
    and pin url_dedup's full contract — one row per canonical group,
    min-id survivor, exact n_copies."""
    import pandas as pd

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dfsql_spark.operators.web import url_dedup

    @st.composite
    def group(draw):
        host = draw(st.sampled_from(["g1.com", "g2.org", "g3.net"]))
        path = draw(st.sampled_from(["/x", "/y/z", "/"]))
        canonical = f"https://{host}{path if path != '/' else ''}" + (
            "/" if path == "/" else ""
        )
        n = draw(st.integers(min_value=1, max_value=4))
        variants = []
        for i in range(n):
            h = draw(st.sampled_from([host, host.upper(), "www." + host]))
            q = draw(st.sampled_from(["", "?utm_source=a", "?gclid=1"]))
            frag = draw(st.sampled_from(["", "#f"]))
            port = draw(st.sampled_from(["", ":443"]))
            variants.append(f"https://{h}{port}{path}{q}{frag}")
        return canonical, variants

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(group(), min_size=1, max_size=4))
    def inner(groups):
        # distinct canonical targets only (two draws may share one)
        merged: dict = {}
        for canon, variants in groups:
            merged.setdefault(canon, []).extend(variants)
        rows, want = [], {}
        i = 0
        for canon, variants in merged.items():
            ids = []
            for v in variants:
                rows.append((i, v))
                ids.append(i)
                i += 1
            want[canon] = (min(ids), len(ids))
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "url"])
        )
        got = {
            r.canonical_url: (r.survivor_id, r.n_copies)
            for r in url_dedup(df).collect()
        }
        assert got == want, rows

    inner()
