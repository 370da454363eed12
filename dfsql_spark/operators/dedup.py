"""Deduplication operators for large-scale text corpora.

The reference engine has no dedup surface; these are the Spark-era
capabilities a training-data pipeline needs (BASELINE.json north star).
Five strategies, all expressed as declarative DataFrame plans so
Catalyst/AQE handle distribution:

* :func:`exact_dedup` — hash-groupBy on normalized text.
* :func:`ngram_jaccard_pairs` — exact character-shingle Jaccard with
  an adaptive physical strategy: AllPairs/PPJoin prefix filtering for
  large vocabularies, dense-bitset all-pairs verification when the
  vocabulary is small (templated corpora) and no index key prunes.
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash +
  banded LSH: shingle → 64 permuted min-hashes → band buckets →
  bucket-equi-join.  The classic near-dup pipeline (Broder '97 resemblance
  sketches; Leskovec-Rajaraman-Ullman ch.3 banding).
* :func:`simhash_fingerprints` / :func:`simhash_pairs` — Charikar
  SimHash: signed-sum of token-hash bits → 64-bit fingerprint →
  16-bit-chunk blocking (pigeonhole: hamming≤3 ⇒ one of four 16-bit
  chunks equal) → hamming filter via ``bit_count(a XOR b)``.
* :func:`embedding_neardup_pairs` — cosine-threshold pairs over an
  embedding column (see operators/similarity.py for the primitives).
* :func:`ngram_decontaminate` — benchmark decontamination: corpus docs
  sharing an n-token run (n=13 canonical) with an eval set, via a
  word-n-gram equi-join.

Scale notes (100 TB posture)
----------------------------
* Shuffle keys are fixed-width hashes (xxhash64), never raw document
  text: grouping 100 TB of text by the string itself ships the corpus
  through the shuffle; grouping by its 8-byte hash ships 8 bytes/row.
* Every pair-generation step is an equi-join on a bucket key (shingle,
  band hash, simhash chunk), so Spark plans a shuffled hash join that
  partitions by bucket — no broadcast of the corpus, no cross join.
* Banding parameters (b bands × r rows, b·r = num_perm) tune the
  similarity threshold s ≈ (1/b)^(1/r); callers pick them per corpus.
* Hot buckets (boilerplate shingles) are the skew risk: AQE skew-join
  splitting is on by default in our session, and
  ``ngram_jaccard_pairs`` drops shingles above ``max_shingle_freq``
  (stopword-shingle pruning), the standard mitigation.
* Shingling itself is an Arrow-batched pandas UDF: Spark's
  higher-order array lambdas evaluate interpreted (outside codegen)
  and quadratically re-evaluate the normalization, so the "pure SQL"
  version is 20-50x slower — the UDF is a deterministic per-row map
  that pipelines into the scan.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne-ish prime > 2^32: universal-hash modulus for MinHash
# permutations h_j(x) = (a_j·x + b_j) mod P over 32-bit base hashes.
# All arithmetic stays within a 64-bit long (a_j < 2^31, x < 2^32).
_MINHASH_PRIME = 4294967311


def normalize_text(col: "Column | str") -> Column:
    """Canonical text form shared by all dedup strategies: lowercase,
    collapse whitespace runs, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def char_shingles(text_col: str, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text
    (array<string>)."""
    return _shingles_expr(text_col, k)


_SHINGLE_UDFS: dict = {}


def _persist(df: DataFrame) -> DataFrame:
    """Pin an intermediate that downstream plans reference more than
    once: ``persist(MEMORY_AND_DISK)``, an eager ``count()`` and
    registration in ``_LIVE_PERSISTS``.  Persist keeps lineage, so
    lost blocks recompute after executor loss.  The eager count makes
    the ``InMemoryRelation``'s size exact before the consumers are
    planned, which can decide their broadcast joins.  The CacheManager
    holds the entry until :func:`release_persists`.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    _LIVE_PERSISTS.append(df)
    return df


# Every persist() issued by _persist is tracked here so long-lived
# sessions can release the blocks: the CacheManager otherwise holds
# them until session teardown, which on a shared cluster pins executor
# memory unboundedly as a pipeline issues many operator calls.
_LIVE_PERSISTS: list[DataFrame] = []


def release_persists() -> int:
    """Unpersist every DataFrame the operators pinned with
    :func:`_persist` since the last call; returns how many were released.
    Blocking=False: block deletion proceeds asynchronously, callers
    don't wait on executor round-trips.

    Ownership is PROCESS-GLOBAL: the registry spans every pipeline (and
    every SparkSession) in the process, so calling this from one
    pipeline releases materializations a concurrent pipeline may still
    be reading — that costs a recompute on next access, never wrong
    results (persist is an optimization hint, lineage remains).  It
    also strands ``__spark_entry__``'s memo dicts with unpersisted
    entries; prefer ``__spark_entry__.release_caches()``, which clears
    those memos first.  Pipelines needing isolated release should run
    in separate processes (Spark-idiomatic: one driver per job)."""
    n = 0
    while _LIVE_PERSISTS:
        df = _LIVE_PERSISTS.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """``(id, shs array<string>)`` — distinct char k-shingles per doc.

    Public so pipelines running several shingle-based strategies over
    one corpus (n-gram Jaccard + MinHash LSH is the standard near-dup
    stack) shingle ONCE: materialize this and hand it to each operator
    via ``sets=`` — the shingling scan is the dominant shared cost.

    Small inputs are repartitioned to the session's default
    parallelism before the UDF: a corpus that arrives as fewer splits
    than cores (one small parquet file → ONE task) would otherwise run
    the whole shingling pass on a single core.  At 100 TB the scan
    already has thousands of splits, so the gate never fires and no
    corpus-wide shuffle is added.
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(parallelism, 32):
        df = df.repartition(min(parallelism, 32))
    return df.select(
        F.col(id_col).alias("id"), _shingles_expr(text_col, k).alias("shs")
    )


def _shingles_expr(text_col: str, k: int) -> Column:
    """Arrow-batched shingling UDF.

    A pure-SQL formulation (``transform(sequence(...), i ->
    substring(norm, i, k))``) is quadratic per document: Spark
    evaluates higher-order lambdas interpreted (outside whole-stage
    codegen) and re-evaluates the normalization subtree per element.
    Measured 15 s for 5k docs vs well under 1 s for this vectorized
    UDF.  The UDF is a deterministic per-row map (no state, no
    shuffle), so it pipelines into the scan like a native expression
    and scales linearly with corpus bytes.
    """
    if k not in _SHINGLE_UDFS:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        # ASCII \s: agree with the DuckDB oracle (RE2) and Spark-native
        # normalization (Java regex), which split ASCII whitespace only
        ws = _re.compile(r"\s+", _re.ASCII)

        @pandas_udf("array<string>")
        def _sh(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                # .strip(" ") not .strip(): bare strip removes Unicode
                # whitespace (NBSP etc.) that the ASCII `ws` regex left
                # in place, diverging from the Spark-native normalize
                # (F.trim strips 0x20 only) on NBSP-edged text.
                norm = ws.sub(" ", (t or "").lower()).strip(" ")
                if len(norm) < k:
                    out.append([norm])
                else:
                    # dict preserves first-occurrence order and dedups
                    out.append(
                        list(dict.fromkeys(
                            norm[i : i + k] for i in range(len(norm) - k + 1)
                        ))
                    )
            return pd.Series(out)

        _SHINGLE_UDFS[k] = _sh
    return _SHINGLE_UDFS[k](F.col(text_col) if isinstance(text_col, str) else text_col)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_key: bool = True,
) -> DataFrame:
    """Exact dedup on normalized text: one surviving (min-id) row per
    distinct content, with its duplicate count.

    ``hash_key=True`` groups by ``xxhash64(norm)`` so the shuffle ships
    8-byte keys instead of document bodies — the only sane layout at
    100 TB.  (Collision probability over 10^12 docs ≈ 2.7e-8; callers
    needing certainty set ``hash_key=False`` to group on the text.)
    """
    norm = normalize_text(text_col)
    key = F.xxhash64(norm) if hash_key else norm
    return (
        df.select(F.col(id_col), key.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("dedup_key")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index self-join)
# ---------------------------------------------------------------------------

# Observability for the auto strategy gate below: the last resolved
# choice and its inputs.  bench.py reports this next to the d02 timing
# so a slow run is attributable to the physical path that actually
# ran.  Measured on the synthetic test corpus at sf0.1 (5k docs,
# ~2k-shingle vocabulary, 3 interleaved A/B reps): dense 2.6-25 s vs
# prefix 66-212 s — every shingle is hot in a 2k vocabulary, so the
# prefix join explodes quadratically, exactly the regime the dense
# gate exists for; the gate's approx_count_distinct lands at 2087
# every run (deterministic sketch), far from the 64k boundary, so the
# choice is stable here.  Real web corpora sit on the other side
# (vocabulary ≫ 64k) and take the prefix path.
#
# Concurrency contract (round-8 advice): the resolution is built in a
# per-call local dict; callers needing exact per-call attribution pass
# ``strategy_out={}`` and read THAT.  This module-level mirror is
# published atomically (single clear+update of the fully-built dict)
# at the end of each call purely as a convenience for sequential
# drivers like bench.py, which read it immediately after the call they
# timed — a partially-built state is never visible, but interleaved
# callers on one driver should use ``strategy_out``.
LAST_NGRAM_STRATEGY: dict = {}


def _prefix_candidate_bound(
    sets: DataFrame, threshold: float, max_shingle_freq: "int | None" = None
) -> int:
    """Upper bound on the prefix-filter join's raw candidate rows:
    Σ over prefix shingles of C(posting_count, 2).  One linear pass
    over the (materialized) shingle sets — the same frequency/window
    stages the prefix path itself starts with — so gate-checking a
    corpus costs a fraction of running the join.  An upper bound
    because the PPJoin length filter and the id ordering prune
    further; at the scales where this gate matters the bound and the
    reality are the same order of magnitude (sf1 measured: bound
    7.0e8, actual spill >80 GB)."""
    from pyspark.sql import Window

    ex = sets.select("id", F.explode("shs").alias("sh"))
    freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df_freq"))
    if max_shingle_freq is not None:
        # mirror the prefix path's cap so the bound measures the join
        # that would actually run
        freq = freq.filter(F.col("df_freq") <= max_shingle_freq)
    w = Window.partitionBy("id").orderBy("df_freq", "sh")
    ranked = ex.join(freq, "sh").select(
        "id",
        "sh",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz"),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    )
    row = (
        prefix.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("pf"))
        .agg(F.sum(F.col("pf") * (F.col("pf") - 1) / 2).alias("c"))
        .collect()[0]
    )
    return int(row["c"] or 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
    strategy: str = "auto",
    dense_max_vocab: int = 1 << 16,
    dense_max_docs: int = 500_000,
    dense_max_bytes: int = 256 << 20,
    dense_max_ops: float = 2e10,
    dense_max_ops_fallback: float = 4e12,
    prefix_max_candidates: float = 1e8,
    sets: DataFrame | None = None,
    n_docs: int | None = None,
    strategy_out: dict | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.
    Exact result, computed with AllPairs/PPJoin-style prefix filtering
    (Bayardo et al. WWW'07; Xiao et al. WWW'08):

    1. shingle-set per doc (map-only; ``array_distinct`` dedups).
    2. global shingle order = (document frequency asc, shingle asc) —
       rarest first, so prefixes carry the most selective tokens.
    3. each doc indexes only its **prefix** of length
       ``s - ceil(t*s) + 1``: any pair with Jaccard ≥ t must share a
       token inside both prefixes (the first common token in the
       global order; see proof in Bayardo §3), so a prefix↔prefix
       equi-join finds every qualifying pair without the quadratic
       blowup of a full inverted-index self-join on boilerplate
       shingles.
    4. verify candidates exactly: join back the two shingle arrays and
       compute ``|A∩B| / |A∪B|`` JVM-side (``array_intersect``).

    The naive self-join is quadratic in a shingle's document frequency
    (a shingle shared by every one of n docs alone yields n²/2
    candidate rows); prefix filtering bounds candidates by prefix
    overlap, which the frequency-ascending order makes rare-token
    driven.  ``max_shingle_freq`` additionally drops shingles above a
    document-frequency cap *before* prefix selection (approximate but
    standard for web-scale boilerplate).

    ``sets=`` accepts a pre-materialized :func:`shingle_sets` DataFrame
    (so n-gram Jaccard and MinHash LSH over the same corpus shingle
    once); ``n_docs=`` supplies the row count from catalog stats so the
    auto gate skips its counting job.  ``strategy_out=`` (a dict the
    caller owns) receives this call's resolved strategy and gate
    inputs — the race-free per-call alternative to the module-level
    ``LAST_NGRAM_STRATEGY`` mirror.

    The auto gate is layered (Gate 3 added in round 11 after the sf1
    smoke disk-killed the node): cheap dense (``dense_max_ops``) →
    prefix IF its candidate bound (:func:`_prefix_candidate_bound`,
    one linear pass) stays under ``prefix_max_candidates`` → dense
    fallback up to ``dense_max_ops_fallback`` (BLAS-bounded minutes
    beat an unbounded candidate shuffle) → a refusing ``ValueError``
    that names MinHash LSH / ``max_shingle_freq`` as the scale paths.
    Corpora above ``dense_max_docs`` go straight to prefix unprofiled
    — the real-web-text assumption (a Zipfian rare-shingle tail) that
    makes prefix linear there.
    """
    pre_shingled = sets is not None
    requested = strategy
    _info: dict = {}
    if not pre_shingled:
        sets = shingle_sets(df, text_col, id_col, k)
    materialized = pre_shingled  # caller materialized before sharing
    if strategy == "auto":
        # Gate 1 — doc count only, no shingling UDF, no explode.  When
        # the input is a bare parquet scan this is answered from
        # row-group metadata; an upstream filter/transform makes it a
        # full pass, so callers holding catalog stats pass ``n_docs=``
        # (or ``strategy=`` explicitly) to skip the job entirely.
        docs = n_docs if n_docs is not None else df.count()
        if docs > dense_max_docs:
            strategy = "prefix"
        else:
            # Bounded corpus (≤ dense_max_docs rows): materialize the
            # shingle sets once — localCheckpoint blocks are released
            # on GC — and profile the vocabulary on them; the same
            # materialization feeds whichever physical path wins, so
            # the shingling UDF runs exactly once.
            if not materialized:
                sets = sets.localCheckpoint()
                materialized = True
            vocab = (
                sets.select(F.explode("shs").alias("sh"))
                .agg(F.approx_count_distinct("sh").alias("v"))
                .collect()[0]["v"]
            )
            # Gate 2 — memory AND compute.  Memory: the driver bitmap
            # is docs × ceil(vocab/8) bytes — gate on the PRODUCT, not
            # the caps independently (500k docs × 64k vocab would be a
            # 4 GB driver collect).  Compute: the dense compare is
            # O(docs²/2 × ceil(vocab/8)) byte-ops; 2e10 ≈ seconds.
            row_bytes = (vocab + 7) // 8
            mem_ok = (
                vocab <= dense_max_vocab
                and docs * row_bytes <= dense_max_bytes
            )
            ops = (docs * docs / 2) * row_bytes
            if mem_ok and ops <= dense_max_ops:
                strategy = "dense"
            else:
                # Gate 3 (round 11 — found by the sf1 smoke, which
                # disk-killed the node): when the corpus has no
                # rare-shingle tail (templated/synthetic text), prefix
                # filtering prunes NOTHING — at sf1 the candidate
                # upper bound was 7e8 pairs whose array-verify join
                # spilled >80 GB and exhausted the disk.  Before
                # committing to prefix, bound its candidate volume
                # with one linear aggregation over the (already
                # materialized) shingle sets: Σ_sh C(prefix_freq, 2).
                # Bounded candidates -> prefix (the web-corpus fast
                # path).  Exploding candidates but a feasible bitmap
                # -> dense anyway (BLAS-bounded minutes beat an
                # unbounded shuffle; sf1 measured 261 s at 2.7e12
                # byte-ops, hence the 4e12 fallback cap ≈ minutes).
                # Neither sane -> raise rather than detonate the
                # cluster: exact all-pairs Jaccard on a corpus this
                # shape needs MinHash LSH or a max_shingle_freq cap.
                cand_ub = _prefix_candidate_bound(
                    sets, threshold, max_shingle_freq
                )
                _info["cand_ub"] = cand_ub
                if cand_ub <= prefix_max_candidates:
                    strategy = "prefix"
                elif mem_ok and ops <= dense_max_ops_fallback:
                    strategy = "dense"
                else:
                    raise ValueError(
                        f"ngram_jaccard_pairs: no sane exact plan — "
                        f"prefix filtering would generate ~{cand_ub:.1e} "
                        f"candidate pairs (> {prefix_max_candidates:.1e}; "
                        "the corpus has no rare-shingle tail to prune "
                        f"on) and the dense bitmap path needs "
                        f"{ops:.1e} byte-ops / {docs * row_bytes / 1e6:.0f} MB "
                        "(over its caps).  Use minhash_lsh_pairs / "
                        "minhash_dedup (the scale path for near-dup), "
                        "cap boilerplate with max_shingle_freq, or "
                        "force a path with strategy='prefix'/'dense'."
                    )
            _info["vocab"] = vocab
        _info["n_docs"] = docs
    _info.update(strategy=strategy, requested=requested)
    if strategy_out is not None:
        strategy_out.update(_info)
    # atomic publish of the fully-built dict (never a partial state)
    LAST_NGRAM_STRATEGY.clear()
    LAST_NGRAM_STRATEGY.update(_info)
    if strategy == "dense":
        if not materialized:
            sets = sets.localCheckpoint()
        return _ngram_jaccard_dense(sets, threshold, max_shingle_freq)

    ex = sets.select("id", F.explode("shs").alias("sh"))
    freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df_freq"))
    if max_shingle_freq is not None:
        freq = freq.filter(F.col("df_freq") <= max_shingle_freq)
    ex = ex.join(freq, "sh")  # inner join drops capped shingles
    if max_shingle_freq is not None:
        # rebuild the verification sets from the surviving shingles
        sets = ex.groupBy("id").agg(F.collect_list("sh").alias("shs"))

    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("df_freq", "sh")
    ranked = ex.select(
        "id",
        "sh",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz"),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("id", "sh", "sz")

    # PPJoin length filter alongside the prefix condition: Jaccard ≥ t
    # forces |A∩B| ≤ min(|A|,|B|) and |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|),
    # so any qualifying pair has min(sz) ≥ t·max(sz) — evaluated inside
    # the same codegen'd join, it drops size-mismatched candidates
    # before the expensive array_intersect verify.  The 1e-9 slack
    # keeps the filter a strict superset of the exact verify: for a
    # threshold whose double rounds up, fl(t·max_sz) can land just
    # above an integer min_sz on an exact-boundary pair (jaccard == t)
    # and drop a pair the verify would keep.
    cands = (
        prefix.hint("merge").alias("a")
        .join(
            prefix.hint("merge").alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - F.lit(1e-9))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - F.lit(1e-9)),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # merge hints: the shingle-set table is corpus-sized (and carries
    # the heavy arrays) — never a broadcast candidate beyond toy scale
    sa = sets.hint("merge").select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    sb = sets.hint("merge").select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("shs_a") + F.size("shs_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _ngram_jaccard_dense(
    sets: DataFrame, threshold: float, max_shingle_freq: int | None = None
) -> DataFrame:
    """Dense-bitset verification for small-vocabulary corpora.

    Inverted-index candidate generation degenerates to all-pairs when
    the shingle vocabulary is tiny relative to the corpus (templated /
    synthetic text: every shingle is "hot", so every pair shares
    shingles and no prefix/frequency filter prunes).  In that regime
    the unavoidable O(n^2) verification is best made cheap-per-pair:

    1. map each of the V (<= ``dense_max_vocab``) distinct shingles to
       a bit position; pack each doc's shingle set into ceil(V/8)
       bytes (one distributed ``mapInPandas`` pass).
    2. broadcast the (n x ceil(V/8)) bitmap matrix to all executors
       (gated by ``dense_max_docs``; ~32 MB for 500k docs x 64B rows
       at V=512, 128 MB at V=2048 -- driver-collected once).
    3. each task takes a block of row positions, unpacks its rows to
       0/1 float32 ONCE, and streams corpus chunks through one sgemm
       per tile: |A ∩ B| = dot(bits_a, bits_b) — float32 sums of 0/1
       are exact below 2^24, far above any vocab this path admits —
       then Jaccard from sizes, upper-triangle masked.  Work is
       n^2/2 x V multiply-adds spread evenly across tasks at BLAS
       throughput (the round-10 per-row AND+popcount loop measured
       >9.5 min at 50k docs x 17k vocab; the GEMM form does the same
       comparisons in ~1 min), shuffle is only the qualifying pairs.

    Exact: bitmaps encode the shingle sets losslessly, so results are
    bit-identical to the prefix-filter path.  Large-vocabulary corpora
    (real web text) never take this path -- the auto gate routes them
    to prefix filtering, which is linear there.
    """
    import numpy as np

    spark = sets.sparkSession
    # ``sets`` arrives materialized (localCheckpoint in the caller), so
    # the vocab scan and the bitmap-packing pass below both read the
    # stored blocks instead of re-running the shingling UDF; the blocks
    # are released by the ContextCleaner once the DataFrame is GC'd.

    ex = sets.select("id", F.explode("shs").alias("sh"))
    vocab_df = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df_freq"))
    if max_shingle_freq is not None:
        vocab_df = vocab_df.filter(F.col("df_freq") <= max_shingle_freq)
    vocab = {r["sh"]: i for i, r in enumerate(
        sorted(vocab_df.collect(), key=lambda r: r["sh"])
    )}
    n_bytes = (max(len(vocab), 1) + 7) // 8
    b_vocab = spark.sparkContext.broadcast(vocab)

    def pack(batches):
        vv = b_vocab.value
        for pdf in batches:
            rows = []
            for did, shs in zip(pdf["id"], pdf["shs"]):
                idxs = np.array([vv[s] for s in shs if s in vv], dtype=np.int64)
                bits = np.zeros(n_bytes, dtype=np.uint8)
                if len(idxs):
                    np.bitwise_or.at(
                        bits, idxs >> 3, (1 << (idxs & 7)).astype(np.uint8)
                    )
                rows.append((did, len(idxs), bits.tobytes()))
            yield pd.DataFrame(rows, columns=["id", "sz", "bm"])

    packed = (
        sets.mapInPandas(pack, "id bigint, sz int, bm binary")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    n = len(packed)
    ids = packed["id"].to_numpy(dtype=np.int64)
    szs = packed["sz"].to_numpy(dtype=np.int64)
    mat = (
        np.frombuffer(b"".join(packed["bm"]), dtype=np.uint8).reshape(n, n_bytes)
        if n
        else np.zeros((0, n_bytes), dtype=np.uint8)
    )
    b_ids = spark.sparkContext.broadcast(ids)
    b_szs = spark.sparkContext.broadcast(szs)
    b_mat = spark.sparkContext.broadcast(mat)

    out_schema = "id_a bigint, id_b bigint, jaccard double"
    if n < 2:
        return spark.createDataFrame([], out_schema)

    # Blocked BLAS compare (round 11 — the sf1 smoke found the per-row
    # AND+popcount loop needed >9.5 min at 50k docs x 17k vocab):
    # |A ∩ B| is a 0/1 dot product, so a tile of intersections is ONE
    # sgemm of unpacked bit rows — float32 sums of 0/1 are exact below
    # 2^24, far above any vocab this path admits, and BLAS runs the
    # same byte traffic an order of magnitude faster than the lookup-
    # table popcount.  Each task unpacks its row block once, streams
    # corpus chunks, and emits only qualifying pairs; tile memory is
    # BLOCK x CHUNK floats (~8 MB) + the two unpacked slices.
    vocab_len = max(len(vocab), 1)
    par = max(spark.sparkContext.defaultParallelism, 1)

    # Kernel choice (round-11 bench): the two compare kernels win in
    # different regimes.  SMALL vocab (packed rows of a few hundred
    # bytes): the per-row AND+popcount sweep is pure memory traffic —
    # ~8x less of it than unpacked float32 — and beats GEMM (bench
    # sf0.1, vocab 2087: 3.2 s vs ~4.5 s).  LARGE vocab x many rows:
    # the popcount sweep's per-row temporaries and python-level loop
    # dominate while one sgemm per tile batches the same comparisons
    # at BLAS rate (sf1, 50k docs x vocab 17k: >9.5 min -> 261 s).
    # 4096 bits = 512-byte rows is the measured-side crossover with
    # margin on both sides.
    if vocab_len <= 4096:
        pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)

        def compare(batches):
            ids_, szs_, mat_ = b_ids.value, b_szs.value, b_mat.value
            for pdf in batches:
                for p in pdf["pos"]:
                    p = int(p)
                    if p + 1 >= len(ids_):
                        continue
                    inter = (
                        pop8[mat_[p] & mat_[p + 1 :]].sum(axis=1).astype(np.int64)
                    )
                    union = szs_[p] + szs_[p + 1 :] - inter
                    jac = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
                    m = jac >= threshold
                    if m.any():
                        qs = np.nonzero(m)[0] + p + 1
                        yield pd.DataFrame(
                            {"id_a": ids_[p], "id_b": ids_[qs], "jaccard": jac[m]}
                        )

        # spread positions round-robin: low positions compare against
        # more rows, so contiguous ranges would skew task runtimes
        pos = spark.range(n).toDF("pos").repartition(par)
        return pos.mapInPandas(compare, out_schema)

    # GEMM kernel: BLOCK=1024 keeps each sgemm tile big enough for
    # BLAS throughput and the corpus re-unpack amortized; at ≥ ~10k
    # rows (the only regime that reaches here with vocab > 4096) that
    # is also ≥ par blocks, so no slot starves.
    BLOCK = 1024
    CHUNK = 2048
    n_blocks = (n + BLOCK - 1) // BLOCK

    def compare(batches):
        ids_, szs_, mat_ = b_ids.value, b_szs.value, b_mat.value
        nrows = len(ids_)
        for pdf in batches:
            for blk in pdf["blk"]:
                lo = int(blk) * BLOCK
                hi = min(lo + BLOCK, nrows)
                if lo + 1 >= nrows:
                    continue
                a = np.unpackbits(
                    mat_[lo:hi], axis=1, count=vocab_len, bitorder="little"
                ).astype(np.float32)
                sza = szs_[lo:hi]
                pidx = np.arange(lo, hi, dtype=np.int64)[:, None]
                for qlo in range(lo, nrows, CHUNK):
                    qhi = min(qlo + CHUNK, nrows)
                    b = np.unpackbits(
                        mat_[qlo:qhi], axis=1, count=vocab_len, bitorder="little"
                    ).astype(np.float32)
                    inter = (a @ b.T).astype(np.int64)
                    qidx = np.arange(qlo, qhi, dtype=np.int64)[None, :]
                    union = sza[:, None] + szs_[qlo:qhi][None, :] - inter
                    jac = np.where(
                        union > 0, inter / np.maximum(union, 1), 0.0
                    )
                    m = (qidx > pidx) & (jac >= threshold)
                    if m.any():
                        pi, qi = np.nonzero(m)
                        yield pd.DataFrame(
                            {
                                "id_a": ids_[lo + pi],
                                "id_b": ids_[qlo + qi],
                                "jaccard": jac[pi, qi],
                            }
                        )

    # spread blocks round-robin: low blocks compare against more rows,
    # so contiguous ranges would skew task runtimes
    pos = spark.range(n_blocks).toDF("blk").repartition(par)
    return pos.mapInPandas(compare, out_schema)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 2**31 - 1), rng.randrange(0, 2**31 - 1))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    seed: int = 42,
    sets: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<bigint>[num_perm]) MinHash sketch per document.

    ZERO-shuffle formulation: each document's ``num_perm`` permuted
    minima are computed inside one Arrow-batched map over its (already
    per-doc) shingle array — base-hash the shingles with pandas'
    vectorized hash_array (deterministic: fixed default hash key,
    independent of PYTHONHASHSEED/process), then an
    (n_shingles x num_perm) numpy broadcast of ``(a*h + b) mod p``
    and a column-min.  A pure per-row map that pipelines into the
    shingle source; the signature table is never shuffled to exist.

    Two earlier formulations, both measured slower at sf0.1 (5k docs):
    explode + 64 codegen'd ``min`` aggregates = 3.2 s (the explode
    multiplies corpus rows by ~1k shingles and the agg shuffles the
    partial minima); ``array_min(transform(...))`` higher-order
    lambdas evaluate interpreted, worse still.  This path: 0.5 s,
    same sketch quality (the recall floors in tests/test_operators.py
    pin it).  ``sets=`` accepts a pre-materialized
    :func:`shingle_sets` DataFrame to reuse one shingling pass across
    strategies.
    """
    params = _minhash_params(num_perm, seed)
    src = sets if sets is not None else shingle_sets(df, text_col, id_col, k)
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    a_vec = np.array([a for a, _ in params], dtype=np.uint64)
    b_vec = np.array([b for _, b in params], dtype=np.uint64)
    # 32-bit base hash keeps (a*h + b) < 2^63, inside uint64.  The
    # modulus must be ~2^32 (not, say, 2^61-1): with a large modulus
    # small-a permutations never wrap, making a*h+b MONOTONE in h —
    # every such signature component would pick the same min shingle,
    # collapsing the permutations' independence (observed: est 0.25
    # for a true-0.49 pair).  With p ≈ 2^32 the product wraps ~a
    # times, scrambling order properly.
    prime = np.uint64(_MINHASH_PRIME)
    empty = [0] * num_perm

    @pandas_udf("array<bigint>")
    def _sig(shs: pd.Series) -> pd.Series:
        # Batch-vectorized (optimization round 15, guide §4.2): one
        # hash_array call + one (N_total x num_perm) broadcast per
        # CHUNK of documents instead of per doc — the per-doc form
        # paid a hash_array dispatch and a small-matrix product per
        # row.  Values are bit-identical: hash_array is elementwise
        # with a fixed key, and the uint64 mul/add/mod and column-min
        # see exactly the same operands per document (reduceat
        # segments are the per-doc slices).  Chunks cap the flattened
        # shingle count so peak temp memory stays ~CHUNK_SHINGLES x
        # num_perm x 8B (~128 MB) regardless of batch width — the same
        # bound the per-doc form had, amortized instead of per-row.
        CHUNK_SHINGLES = 262_144
        n = len(shs)
        out: list = [empty] * n
        lens = np.fromiter(
            (0 if lst is None else len(lst) for lst in shs),
            dtype=np.int64,
            count=n,
        )
        idx_nonempty = np.flatnonzero(lens)
        i = 0
        while i < len(idx_nonempty):
            j, tot = i, 0
            while j < len(idx_nonempty) and (
                tot == 0 or tot + lens[idx_nonempty[j]] <= CHUNK_SHINGLES
            ):
                tot += lens[idx_nonempty[j]]
                j += 1
            rows = idx_nonempty[i:j]
            flat: list = []
            for r in rows:
                flat.extend(shs.iloc[r])
            hx = pd.util.hash_array(
                np.asarray(flat, dtype=object)
            ) & np.uint64(0xFFFFFFFF)
            prod = (hx[:, None] * a_vec[None, :] + b_vec[None, :]) % prime
            offsets = np.concatenate(
                ([0], np.cumsum(lens[rows])[:-1])
            ).astype(np.int64)
            mins = np.minimum.reduceat(prod, offsets, axis=0)
            mins = mins.astype(np.int64)
            for k, r in enumerate(rows):
                out[r] = mins[k].tolist()
            i = j
        return pd.Series(out)

    # docs with EMPTY shingle arrays emit no signature row — matching
    # the old explode+agg path, where explode dropped them.  Without
    # this filter every empty doc would share the identical all-zero
    # sentinel signature, collide in every LSH band, and verify at
    # est_jaccard = 1.0: n empty docs -> O(n^2) spurious pairs.
    return src.filter(F.size("shs") > 0).select("id", _sig("shs").alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: float | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    ``bands`` bands of ``num_perm//bands`` rows: candidate threshold
    s ≈ (1/b)^(1/r) (b=16, r=4 → ~0.5).  Pairs agreeing on ≥1 band
    hash become candidates; ``verify_threshold`` optionally re-checks
    candidates with the exact estimated Jaccard (fraction of equal
    signature components) — still sketch-based, no second corpus scan.

    ``sets=`` accepts a pre-materialized :func:`shingle_sets` DataFrame
    (share one shingling pass with :func:`ngram_jaccard_pairs`).
    Pins the signature table with :func:`_persist` (lineage survives
    executor loss); :func:`release_persists` frees it.
    """
    r = num_perm // bands
    sigs = minhash_signatures(df, text_col, id_col, k, num_perm, seed, sets=sets)
    # the band self-join references the signature subplan on BOTH
    # sides; materializing collapses two full corpus scans + sketch
    # computations into one.  Signatures are ~8*num_perm bytes/doc
    # (0.5 KB at num_perm=64) -- negligible next to the corpus, and
    # exactly what a production near-dup pipeline materializes anyway.
    # A/B at sf0.1 (7 interleaved reps each, round 3): persist+count
    # 4.6-37.8 s, localCheckpoint(eager) 6.4-19.8 s — within run-to-run
    # noise of each other; on a quiet box both settle at 5-7 s
    # (persist slightly ahead: 4.6/5.4 vs 6.4/6.8).  The round-2 d03
    # bench doubling (5.6→11.2 s) falls inside this same machine-load
    # variance band, not the materialization strategy.  persist: same
    # speed, and lineage survives executor loss.
    sigs = _persist(sigs)
    return _banded_lsh_pairs(sigs, num_perm, bands, verify_threshold)


def _banded_lsh_pairs(
    sigs: DataFrame,
    num_perm: int,
    bands: int,
    verify_threshold: float | None,
    flag_col: str | None = None,
) -> DataFrame:
    """Band self-join + signature verify over a (id, sig[, flag]) table.

    Shared core of :func:`minhash_lsh_pairs` (whole-corpus pairs) and
    :func:`incremental_minhash_dedup` (delta-vs-snapshot pairs).  When
    ``flag_col`` is given the join drops pairs where BOTH sides carry
    the flag — that is how the incremental path excludes base×base
    candidates INSIDE the join, so a daily-delta run never pays for
    pairs between two already-accepted snapshot docs (at scale those
    dominate every band bucket).
    """
    r = num_perm // bands
    # The band self-join and the candidate dedup run on THIN rows —
    # (id, band, bh), 24 bytes — never the 8*num_perm-byte signature.
    # Carrying sig through the join multiplies every shuffled candidate
    # row by ~0.5 KB (a measured 10× slowdown at sf0.1: LSH at the
    # ~0.5 candidate threshold admits far more candidates than
    # survivors, so candidate-stage bytes dominate the operator).
    extra = [flag_col] if flag_col else []
    # Band hash = xxhash64 over the band index + the r signature longs
    # DIRECTLY: xxhash64 streams each typed argument's bytes, so equal
    # slices hash equal and the (fixed-arity, fixed-width) byte stream
    # is injective up to 64-bit hash collisions — the same guarantee
    # the original concat_ws(",", casts) string form gave, without
    # paying num_perm long→string casts + bands string concats per doc
    # (optimization round 15: 0.80-1.25 s → 0.44-0.59 s for the banded
    # projection at sf0.1, candidate-pair set verified identical,
    # 337,157 = 337,157).
    banded = sigs.select(
        "id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(bi),
                        *[F.col("sig")[bi * r + j] for j in range(r)],
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bh"),
    )
    # hint("merge"): the banded table is corpus-sized (bands rows per
    # doc) — broadcasting a side is only viable at toy scale, where
    # AQE's runtime-size heuristic would in fact pick it (and measured
    # 5× SLOWER than the shuffle join even there: 9.8 s vs 1.8 s at
    # sf0.1 — the broadcast build + twice-replanned stages dominate).
    # Pinning sort-merge keeps the one plan that is right at every
    # scale: shuffle both sides on bh, AQE handles skewed bands.
    a = banded.hint("merge").alias("a")
    b = banded.hint("merge").alias("b")
    cond = (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id"))
    if flag_col:
        cond = cond & ~(F.col(f"a.{flag_col}") & F.col(f"b.{flag_col}"))
    # repartition("id_a") BEFORE the candidate dedup (optimization
    # round 16, guide §2.4 — two operations keyed the same way share
    # one exchange): HashPartitioning(id_a) satisfies the dedup
    # aggregate's ClusteredDistribution(id_a, id_b) AND the first
    # attach join's ClusteredDistribution(id_a), so ONE exchange of
    # the thin 16-byte pair rows serves both — the plain
    # dropDuplicates form exchanged on (id_a, id_b) and then
    # re-exchanged the deduped pairs on id_a for the join.  Nothing is
    # lost map-side: a pair's multi-band duplicates live in DIFFERENT
    # band-hash partitions of the self-join output, so the old
    # pre-exchange partial aggregate almost never collapsed them
    # anyway.
    pairs = (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .repartition("id_a")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Attach signatures to the DEDUPED pairs only.  The signature
    # table scales with the corpus, so these must be shuffle joins —
    # never broadcast (AQE's conversion was measured slower even at
    # bench scale and is wrong at any real scale).  Among shuffle
    # joins, SHUFFLE_HASH beats merge here: sort-merge must sort the
    # candidate rows WITH their 8*num_perm-byte signature payloads
    # (the dominant cost of the whole operator — measured 6.0 s vs
    # 3.6 s at sf0.1, ~40% off the verify stage), while the hash build
    # side is one partition's share of the fixed-width signature
    # table, bounded by the shuffle partition count.  The band
    # self-join above stays sort-merge: its rows are 24 bytes (nothing
    # to save) and SMJ degrades gracefully on a pathologically hot
    # band where a hash build could not.
    sa = sigs.hint("shuffle_hash").select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.hint("shuffle_hash").select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # est = fraction of equal components.  Re-measured in optimization
    # round 15 (Spark 4.1, 337k candidates at sf0.1): the old
    # num_perm-term ``sum(when(sig_a[j]==sig_b[j],1))`` Project —
    # chosen when an ``aggregate()`` lambda measured ~10 s over 180 k
    # candidates — costs 1.7-2.7 s per pass (a 64-deep CaseWhen+Add
    # expression tree generates a method the JIT handles badly), while
    # ``size(filter(zip_with(...)))`` evaluates the same 64
    # comparisons per row over SpecializedGetters in 0.67-1.07 s
    # (2.5× faster, verified bit-identical: same 292 survivors at
    # sf0.1).  The join shuffles are NOT the bottleneck (~0.6 s with
    # the compare stripped), so the expression form is the whole win.
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (matches / F.lit(num_perm)).alias("est_jaccard"),
        )
    )
    if verify_threshold is not None:
        est = est.filter(F.col("est_jaccard") >= verify_threshold)
    return est


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    resolve: str = "components",
    **lsh_kwargs,
) -> DataFrame:
    """Survivor set after MinHash-LSH near-dup detection.

    ``resolve="components"`` (default) resolves duplicate *clusters*
    via connected components and keeps the min-id doc per cluster —
    correct on chains (a~b, b~c, a≁c keeps a AND nothing else from the
    cluster is over-deleted relative to cluster semantics).

    ``resolve="greedy"`` is the cheaper single-pass variant (drop the
    larger id of every pair, no component resolution).  Footgun: on
    chains it drops b and c even when a~c is false — only use it when
    pairs are already transitive (very high thresholds).

    Pins :func:`minhash_lsh_pairs`'s signature table;
    :func:`release_persists` frees it.
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, **lsh_kwargs)
    if resolve == "components":
        return dedup_by_components(df, pairs, id_col=id_col)
    if resolve != "greedy":
        raise ValueError(f"resolve must be 'components' or 'greedy', got {resolve!r}")
    losers = pairs.select(F.col("id_b").alias("loser")).distinct()
    return df.join(
        losers, df[id_col] == losers.loser, "left_anti"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash bigint): Charikar signed-bit-sum over token hashes.

    Implementation is one explode + one groupBy with 64 conditional
    sums — all codegen'd; the fingerprint reassembles with shifts/ORs.
    """
    norm = normalize_text(text_col)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(norm, " ")).alias("tok"),
    )
    toks = toks.withColumn("h", F.xxhash64("tok"))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    fp_expr = " | ".join(
        f"(CAST(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END AS BIGINT) << {i})"
        for i in range(64)
    )
    return bit_sums.select("id", F.expr(fp_expr).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) ≤ max_hamming.

    Blocking: split the 64-bit fingerprint into 4 × 16-bit chunks; by
    pigeonhole any pair within hamming ≤ 3 agrees on ≥1 chunk, so an
    equi-join on (chunk_idx, chunk_value) finds all of them without a
    cross join.  The hamming check is ``bit_count(a XOR b)`` — one
    instruction per pair.
    """
    fp = simhash_fingerprints(df, text_col, id_col)
    chunks = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.expr(f"(simhash >> {i * 16}) & 65535").alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    # hint("merge"): the chunk table is corpus-sized (4 rows/doc) —
    # same reasoning as the LSH band join: a broadcast is only viable
    # at toy scale (where AQE's size heuristic would pick it), and the
    # shuffle join on (ci, cv) is the plan that holds at every scale.
    a = chunks.hint("merge").alias("a")
    b = chunks.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # hamming is pair-deterministic, so filtering BEFORE the dedup
        # is value-identical and shrinks the dedup shuffle to the
        # near-dup survivors instead of every chunk-collision pair
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# connected components (duplicate-cluster resolution)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``pairs``, where component =
    the minimum id reachable through the pair graph.

    Near-dup pairs form chains (a~b, b~c but not a~c); greedy "drop
    the larger id of each pair" over-deletes on chains, so proper
    dedup resolves *clusters* first.  This is min-label propagation
    (HashToMin family): each round every node takes the smallest label
    among itself and its neighbors; rounds needed = graph diameter
    (near-dup clusters are small, so a handful).  If the graph's
    diameter exceeds ``max_iter`` the operator RAISES rather than
    return partially-propagated labels (silent under-dedup); raise
    ``max_iter`` for pathological chain-shaped graphs.  ``max_iter``
    bounds the PROPAGATION rounds; one extra quiet round runs
    internally so a graph whose diameter is exactly ``max_iter``
    converges (changed-count detection needs a round that observes
    zero changes) instead of raising spuriously.

    Iterative-join mechanics at scale: each round is ONE shuffle
    (join + groupBy on node); every round the labels are re-materialized
    so the plan doesn't grow with iterations (the classic
    unbounded-plan failure of iterative Spark); convergence is detected
    by an exact count of changed labels.

    Measured scale check (local[32]): a 1M-node / 800k-edge graph of
    5-chains (diameter-heavy shape, 5 label rounds) resolves in ~14 s
    with per-round materialization — the cost is rounds × (one join
    shuffle + one truncation job), independent of corpus size (the
    graph holds only dup-cluster members).

    Evaluated and REJECTED (round 14): persisting the edge relation
    hash-partitioned by ``dst`` so the per-round join re-shuffles only
    labels — the trick that cut :func:`~dfsql_spark.operators.web.
    pagerank` 25%.  Here it measured 2× SLOWER (9.7 s → 19 s warm on
    the graph above): pagerank's static side outweighs its dynamic
    side ~10:1, but a dup graph has |edges| ≈ |labels|, so the saved
    exchange is roughly offset by re-sorting the in-memory relation
    every round and the labels shuffle still dominates.  The
    partition-preserving persist only pays when the static side is
    much larger than the per-round side.

    Each round truncates lineage with ``localCheckpoint``: blocks
    live only on executors (an executor loss fails the job) and are
    released when the DataFrame is garbage-collected.  Persist can't
    substitute here: lineage would still chain across rounds, and
    recomputing round N replays every earlier round.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    # both orientations from ONE pass over the pair plan (round-12
    # scan review: the old self-union re-executed `pairs` — often an
    # expensive upstream dedup plan — twice before the truncation)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    # max_iter + 1: convergence is observed, not predicted — a graph
    # that finishes propagating on round max_iter still needs one
    # quiet round to measure changed == 0, and that detection round
    # must not count against the propagation budget.
    changed = -1
    for _ in range(max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("nd"))
            .agg(F.min("label").alias("nlabel"))
        )
        # Carry the pre-round label through the candidate pass so
        # convergence is a filter over the just-materialized round
        # output — the alternative (joining new labels back to old
        # labels) costs an extra shuffle join per round for the same
        # information.
        cand = (
            labels.join(neighbor_min, labels.node == neighbor_min.nd, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = cand.filter(F.col("label") != F.col("old_label")).count()
        labels = cand.select("node", "label")
        if changed == 0:
            break
    else:
        # Min-label propagation converges in diameter rounds; a graph
        # whose diameter exceeds max_iter would otherwise return
        # PARTIALLY-propagated labels — silent under-dedup, the worst
        # failure mode for a dedup backbone.  Flag, don't guess.
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds ({changed} labels still changing) — the"
            " pair graph has a component with diameter >"
            f" {max_iter}; raise max_iter"
        )
    return labels.select(F.col("node").alias("id"), F.col("label").alias("component"))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    **cc_kwargs,
) -> DataFrame:
    """Keep exactly one row (the min id) per duplicate cluster.

    Unlike the greedy pair-based drop (``minhash_dedup``), chains are
    handled correctly: a~b~c keeps only a, and disjoint clusters each
    keep their own survivor.
    """
    comp = connected_components(pairs, **cc_kwargs)
    losers = comp.filter(F.col("id") != F.col("component")).select("id")
    return df.join(losers, df[id_col] == losers.id, "left_anti")


def dedup_report(
    df: DataFrame,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    **cc_kwargs,
) -> DataFrame:
    """One-row dedup data card — the summary every curation run logs
    before anyone trusts (or ships) a deduplicated corpus: how much
    duplication was found, how it clusters, and what the min-id
    survivor policy would remove.

    Output (all exact integers / int-ratio doubles)::

        (n_docs, n_pairs, n_dup_docs, n_clusters, max_cluster_size,
         n_removed, frac_docs_duplicated, frac_removed)

    ``n_pairs`` counts distinct undirected pairs; ``n_dup_docs`` is
    the number of docs appearing in any pair; ``n_clusters`` the
    connected components over the pair graph; ``n_removed`` =
    ``n_dup_docs − n_clusters`` (what :func:`dedup_by_components`
    deletes — one survivor per cluster); the fractions are over the
    full corpus (``n_docs`` = row count of ``df``, matching what the
    dedup operators actually filter).  Composes with any pair
    producer here (exact, n-gram Jaccard, MinHash, SimHash, embedding
    near-dup).

    Scale shape: one corpus count (nothing but the count is read from
    the corpus), and the PAIR PLAN — often an expensive upstream
    dedup join — is materialized once (``localCheckpoint``, pair
    tables are dup-cluster-sized) and feeds both the undirected
    distinct and :func:`connected_components`; everything after is a
    handful of one-row aggregates cross-joined together.
    """
    p = (
        pairs.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b"))
        # Degenerate rows would skew the card: a self-pair (a, a)
        # survives the least/greatest distinct as one undirected pair
        # and becomes a size-1 component — inflating n_pairs,
        # n_dup_docs and frac_docs_duplicated even though the survivor
        # policy removes nothing for it; NULL ids match nothing
        # downstream.  dedup_by_components is immune (a singleton
        # component keeps its only member), so filtering here keeps
        # the report's n_removed == docs − survivors invariant intact.
        .where(
            F.col("id_a").isNotNull()
            & F.col("id_b").isNotNull()
            & (F.col("id_a") != F.col("id_b"))
        )
        .localCheckpoint()
    )
    comp = connected_components(p, **cc_kwargs)
    und = p.select(
        F.least("id_a", "id_b").alias("_a"),
        F.greatest("id_a", "id_b").alias("_b"),
    ).distinct()
    cluster_sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    n_pairs = und.agg(F.count(F.lit(1)).alias("n_pairs"))
    cstats = cluster_sizes.agg(
        F.coalesce(F.sum("_sz"), F.lit(0)).alias("n_dup_docs"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(F.max("_sz"), F.lit(0)).cast("bigint").alias(
            "max_cluster_size"
        ),
    )
    return (
        n_docs.crossJoin(n_pairs)
        .crossJoin(cstats)
        .select(
            "n_docs",
            "n_pairs",
            "n_dup_docs",
            "n_clusters",
            "max_cluster_size",
            (F.col("n_dup_docs") - F.col("n_clusters")).alias("n_removed"),
            (F.col("n_dup_docs") / F.col("n_docs")).alias(
                "frac_docs_duplicated"
            ),
            (
                (F.col("n_dup_docs") - F.col("n_clusters"))
                / F.col("n_docs")
            ).alias("frac_removed"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    **cc_kwargs,
) -> DataFrame:
    """Keep the HIGHEST-``score_col`` row per duplicate cluster (ties
    broken by min id) — the survivor policy a curation pipeline
    actually wants: near-dup copies differ (truncation, boilerplate,
    OCR noise), so keep the best copy, not the arbitrary min-id one.
    Compose with :func:`~dfsql_spark.operators.text.quality_score` /
    ``lm_score`` for the score.

    Scale shape: cluster labels exist only for docs that appear in
    ``pairs`` (dup-cluster members — a small fraction of any corpus
    worth keeping), so the winner window runs over the cluster-member
    subset alone, never the corpus: the corpus-sized operations are
    the inner join attaching scores to members and the final
    loser anti-join (both with the small side as build side).  A
    corpus-wide ``Window.partitionBy(component)`` — every non-dup doc
    a singleton partition — would shuffle everything instead.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, **cc_kwargs)
    # one row per id before the window: with duplicate id rows in df,
    # the winner id's second copy would take row_number 2, land in
    # losers, and the anti-join would delete the whole cluster
    # (dedup_by_components keeps duplicate copies of a survivor id;
    # this policy must agree)
    members = (
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_score"))
        .groupBy("id")
        .agg(F.max("_score").alias("_score"))
        .join(comp, "id")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_score").desc(), F.col("id").asc()
    )
    losers = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("id")
    )
    return df.join(losers, df[id_col] == losers.id, "left_anti")


def incremental_minhash_dedup(
    new_df: DataFrame,
    base_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: float | None = 0.5,
    base_sigs: DataFrame | None = None,
    return_pairs: bool = False,
    **cc_kwargs,
) -> DataFrame:
    """Dedup a NEW batch of documents against an already-accepted BASE
    snapshot — the daily-increment shape of a crawl pipeline, where
    re-running whole-corpus dedup over 100 TB for a 0.1 TB delta is
    not an option.

    A new doc is rejected if its near-dup cluster touches the base
    snapshot (the content already exists) or if it is not the min-id
    member of a pure-new cluster (arrival batch contains internal
    dups).  Clusters are resolved by connected components over the
    verified pair graph, so chains behave exactly like the batch path
    (:func:`dedup_by_components`) — a greedy per-pair drop would both
    over-delete chains and get arrival order wrong.

    Scale shape: the delta and snapshot meet ONLY in the LSH band
    join, with base×base pairs excluded inside the join predicate
    (``_banded_lsh_pairs(flag_col=...)``) — cost scales with the
    delta's band collisions, never with snapshot×snapshot.  Pass
    ``base_sigs`` (the (id, sig) table from
    :func:`minhash_signatures`, written once per snapshot) to skip
    re-sketching the base corpus — the production posture; omitting
    it re-computes base signatures from ``base_df`` for convenience.
    The component graph is delta-driven: only ids that appear in some
    verified pair enter the iteration, so CC state is bounded by the
    delta's duplicate neighborhood, not the snapshot.

    Ids must be unique ACROSS both sides (snapshot pipelines assign
    globally unique doc ids); base rows are never returned.

    ``return_pairs=True`` instead returns the verified pair table
    (id_a, id_b, est_jaccard, vs_base) for auditing which delta docs
    collided with the snapshot vs with each other.

    Default output: the surviving subset of ``new_df``, unchanged
    schema.

    Measured at sf1 (50 k docs, local[32]): ~12 s end-to-end for the
    pair stage, persist-vs-lazy signatures A/B neutral (see inline
    comment); the band join is the only corpus-volume stage.  Pins the
    delta+base signature table; :func:`release_persists` frees it.
    """
    if base_sigs is None:
        if base_df is None:
            raise ValueError("pass base_df or base_sigs")
        base_sigs = minhash_signatures(
            base_df, text_col, id_col, k, num_perm, seed
        )
    new_sigs = minhash_signatures(new_df, text_col, id_col, k, num_perm, seed)
    sigs = new_sigs.withColumn("_is_base", F.lit(False)).unionByName(
        base_sigs.select("id", "sig").withColumn("_is_base", F.lit(True))
    )
    # the band join + verify reference the signature table on FOUR
    # subplan sides (two band sides, two attach sides).  Measured
    # A/B at sf1 (3 interleaved reps): persist is NEUTRAL here
    # (12-14 s both ways) because Spark's ReusedExchange already
    # collapses the byte-identical subplans — but exchange reuse is
    # best-effort (AQE re-planning or any per-side difference defeats
    # it), while the persist guarantees one sketch pass and keeps the
    # same tracked-release lifecycle as minhash_lsh_pairs.
    sigs = _persist(sigs)
    pairs = _banded_lsh_pairs(
        sigs, num_perm, bands, verify_threshold, flag_col="_is_base"
    )
    base_ids = base_sigs.select(F.col("id").alias("_bid"))
    if return_pairs:
        ba = base_ids.select(F.col("_bid").alias("_ba"))
        bb = base_ids.select(F.col("_bid").alias("_bb"))
        return (
            pairs.join(ba, pairs.id_a == ba._ba, "left")
            .join(bb, pairs.id_b == bb._bb, "left")
            .select(
                "id_a",
                "id_b",
                "est_jaccard",
                (F.col("_ba").isNotNull() | F.col("_bb").isNotNull()).alias(
                    "vs_base"
                ),
            )
        )
    comp = connected_components(pairs, **cc_kwargs)
    flagged = comp.join(base_ids, comp.id == base_ids._bid, "left").select(
        "id", "component", F.col("_bid").isNotNull().alias("_is_base")
    )
    cluster_has_base = flagged.groupBy("component").agg(
        F.max("_is_base").alias("_has_base"),
        F.min(F.when(~F.col("_is_base"), F.col("id"))).alias("_min_new"),
    )
    losers = (
        flagged.filter(~F.col("_is_base"))
        .join(cluster_has_base, "component")
        .filter(F.col("_has_base") | (F.col("id") != F.col("_min_new")))
        .select("id")
    )
    return new_df.join(
        losers, new_df[id_col] == losers.id, "left_anti"
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram collision against an eval set)
# ---------------------------------------------------------------------------

_WORD_NGRAM_UDFS: dict[int, object] = {}


def _word_ngrams_expr(text_col: str, n: int) -> Column:
    """Arrow-batched word n-gram extraction (space-joined strings).

    Same rationale as :func:`_shingles_expr`: the pure-SQL
    ``transform(sequence(...), i -> array_join(slice(...)))`` form
    evaluates interpreted and re-slices per element; the vectorized UDF
    is a deterministic per-row map that pipelines into the scan.
    """
    if n not in _WORD_NGRAM_UDFS:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        # ASCII \s only: Python's \s is Unicode-aware (would split at
        # NBSP etc.) while the DuckDB oracle (RE2) and the Spark-native
        # tokenizers in text.py (Java regex) split ASCII whitespace
        # only — the gram definition must agree across all three.
        ws = _re.compile(r"\s+", _re.ASCII)

        @pandas_udf("array<string>")
        def _ng(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                # Filter empties instead of .strip(): Python str.strip()
                # strips Unicode whitespace (NBSP, \x85, \x1c-\x1f) that
                # the ASCII `ws` split does not, which would diverge
                # from the expression-form tokenizer (text.py ws_tokens)
                # on e.g. NBSP-edged text.  Splitting unstripped text
                # yields empty edge tokens only; dropping empties is
                # exactly the shared ASCII-whitespace token definition.
                toks = [x for x in ws.split(t or "") if x]
                out.append(
                    [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                )
            return pd.Series(out)

        _WORD_NGRAM_UDFS[n] = _ng
    return _WORD_NGRAM_UDFS[n](F.col(text_col))


def ngram_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """Training-set decontamination: distinct (doc_id, eval_doc_id)
    pairs where a corpus document shares at least one run of ``n``
    consecutive whitespace tokens with an eval-set document — the
    standard n-gram collision method (n=13 is the canonical choice)
    for detecting benchmark leakage into pretraining data.

    Shape at scale: both sides explode to (id, gram) and meet in a
    gram equi-join — candidate volume is collision-driven, never
    all-pairs.  The eval side is benchmark-sized (orders of magnitude
    smaller than the corpus), so Spark's planner broadcasts it when it
    fits and falls back to a shuffle join when it doesn't — both plans
    are correct here, which is why this join is deliberately
    UN-hinted, unlike the corpus×corpus self-joins in this module.
    The default join key is the gram STRING (exact,
    oracle-reproducible).  ``hash_grams=True`` is the 100 TB scale
    path: both sides join on ``xxhash64(g)`` instead — exploded rows
    and shuffle keys shrink from ~60 bytes of text to 8 bytes, at
    ~1e-13 false-candidate odds per collision (a false candidate flags
    one extra (doc, eval) pair; for decontamination that direction of
    error is benign).  Output is identical on any corpus without an
    adversarial hash collision.
    """
    eval_id_col = eval_id_col or id_col
    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_word_ngrams_expr(text_col, n)).alias("g"),
    )
    eg = eval_df.select(
        F.col(eval_id_col).alias("eval_doc_id"),
        F.explode(_word_ngrams_expr(text_col, n)).alias("g"),
    )
    if hash_grams:
        cg = cg.select("doc_id", F.xxhash64("g").alias("g"))
        eg = eg.select("eval_doc_id", F.xxhash64("g").alias("g"))
    return (
        cg.join(eg, "g")
        .select("doc_id", "eval_doc_id")
        .dropDuplicates(["doc_id", "eval_doc_id"])
    )


def shared_substring_spans(
    df: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_freq: int | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """All MAXIMAL runs of ≥ ``min_tokens`` consecutive whitespace
    tokens shared verbatim between two documents — the exact-substring
    duplication criterion of Lee et al., ACL 2022 ("Deduplicating
    Training Data Makes Language Models Better", which uses 50-token
    runs).  Their suffix-array construction is inherently
    single-machine; this is the distributed re-expression:

    1. ``posexplode`` each doc's ``min_tokens``-grams →
       ``(id, pos, g)`` — pos is the run's starting token index.
    2. gram self-join with ``id_a < id_b`` → match points
       ``(a, b, pa, pb)``: every place a shared ``min_tokens``-run
       starts in both docs.  Candidate volume is collision-driven
       (like :func:`ngram_decontaminate`), never all-pairs;
       ``max_gram_freq`` drops grams above a document-frequency cap
       before the join (boilerplate banners are exactly the hot keys).
    3. consecutive match points on one DIAGONAL (``pa - pb``
       constant) are the same shared run extended by one token, so
       maximal runs = gaps-and-islands per ``(a, b, diagonal)``:
       ``island = pa - row_number()`` is constant exactly on runs of
       consecutive ``pa``.
    4. one aggregate per island emits the span:
       ``n_tokens = max(pa) - min(pa) + min_tokens``.

    Returns ``(id_a, id_b, start_a, start_b, n_tokens)`` with token
    (not char) offsets.  Every stage is built-in expressions except
    the shared Arrow gram UDF; the only shuffles are the gram join and
    the island window (keyed by (pair, diagonal) — skew-free unless
    two documents share massive text, which is the signal itself).
    Fully SQL-expressible → exact DuckDB oracle in tests.

    ``hash_grams=True`` is the 100 TB path (same trade as
    :func:`ngram_decontaminate`): the self-join keys become
    ``xxhash64(g)`` — a 50-token gram is ~300 bytes of text, so the
    exploded rows and shuffle shrink ~40× — at ~1e-13 odds per
    collision of one spurious MATCH POINT, which only corrupts a span
    if it also lands adjacent on an existing diagonal.  When a span
    merely ends at a capped/hashed boundary the length is off by at
    most the collision run, never silently missing.
    """
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    from pyspark.sql import Window

    gram_expr = _word_ngrams_expr(text_col, min_tokens)
    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(gram_expr).alias("pos", "g"),
    )
    if hash_grams:
        grams = grams.select("id", "pos", F.xxhash64("g").alias("g"))
    if max_gram_freq is not None:
        freq = grams.groupBy("g").agg(
            F.count_distinct("id").alias("_df")
        ).filter(F.col("_df") <= max_gram_freq)
        grams = grams.join(freq.select("g"), "g")
    # merge-hinted like every corpus×corpus self-join in this module:
    # both sides are corpus-sized, broadcasting is a toy-scale trap.
    # Round-12 scan review: both join inputs are the SAME plan object
    # (aliased, renamed only after the join) so the two sort-merge
    # exchanges canonicalize identically and Spark's exchange reuse
    # executes the scan + Arrow gram UDF + shuffle WRITE once, reading
    # the shuffle twice — the scale-correct shape (persisting the
    # corpus-token-sized gram table instead would cost the corpus's
    # own footprint in cache; plan-pinned in tests).
    ga, gb = grams.alias("ga"), grams.alias("gb")
    matches = (
        ga.hint("merge")
        .join(gb.hint("merge"), F.col("ga.g") == F.col("gb.g"))
        .filter(F.col("ga.id") < F.col("gb.id"))
        .select(
            F.col("ga.id").alias("id_a"),
            F.col("gb.id").alias("id_b"),
            F.col("ga.pos").alias("pa"),
            F.col("gb.pos").alias("pb"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", F.col("pa") - F.col("pb")).orderBy("pa")
    islands = matches.withColumn(
        "_island", F.col("pa") - F.row_number().over(w)
    )
    return (
        islands.groupBy("id_a", "id_b", F.col("pa") - F.col("pb"), "_island")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.max("pa") - F.min("pa") + min_tokens).alias("n_tokens"),
        )
        .select("id_a", "id_b", "start_a", "start_b", "n_tokens")
    )


def remove_shared_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut :func:`shared_substring_spans` spans out of the NON-survivor
    copy — the action step of the Lee et al. ACL'22 recipe: for each
    span pair, the lower-id document (``id_a``) keeps its text and the
    higher-id document loses tokens ``[start_b, start_b + n_tokens)``.
    Pairwise first-keep is the standard approximation of their
    cluster-level "all but one occurrence" (a chain a<b<c may leave
    b∖c residue; the published pipeline iterates when that matters).

    Plan: spans project to per-doc delete intervals; overlapping
    intervals merge per doc with gaps-and-islands (running-max of the
    interval end — interval counts per doc are span-driven, tiny);
    merged intervals explode to (id, pos) delete keys; the corpus
    posexplodes ONCE to (id, pos, token) — ``posexplode_outer`` keeps
    token-free docs as a NULL-position marker row and the per-doc
    token count rides along, so no separate roster scan is needed
    (round-12 scan review: was 2 corpus scans) — a LEFT join flags
    deleted positions, and reassembly filters them inside d11's
    groupBy + sort-by-pos array_join (fully-deleted documents survive
    as empty text).  Shuffles: the flag join on (id, pos) and the
    per-doc reassembly — both corpus-token-sized, both skew-bounded
    by document length.

    Output: ``(id_col, text, n_tokens, n_kept)`` — ``text`` is
    whitespace-NORMALIZED (tokens re-joined with single spaces, the
    same convention as the span detection itself).
    """
    from pyspark.sql import Window

    from .text import ws_tokens  # same token definition as the spans

    dele = spans.select(
        F.col("id_b").alias("_id"),
        F.col("start_b").alias("_s"),
        (F.col("start_b") + F.col("n_tokens")).alias("_e"),
    )
    w = Window.partitionBy("_id").orderBy("_s", "_e")
    prev_max_end = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        dele.withColumn(
            "_new",
            F.when(
                prev_max_end.isNull() | (F.col("_s") > prev_max_end), 1
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_new").over(w))
        .groupBy("_id", "_island")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
    )
    del_pos = merged.select(
        "_id",
        F.explode(F.sequence(F.col("_s"), F.col("_e") - 1)).alias("_pos"),
        F.lit(True).alias("_del"),
    )
    # posexplode_outer: a token-free doc stays as one NULL-position
    # marker row, so every doc reaches the reassembly aggregate and no
    # id-roster rescan of the corpus is needed; n_tokens rides along
    # as one extra int per token row.  The token array is projected
    # FIRST and both consumers reference the materialized column: an
    # expression placed beside a generator lands in the Project ABOVE
    # the Generate and re-runs per exploded token row — measured 15x
    # on this stage (size(split(text)) recomputed per token).
    toks = df.select(
        F.col(id_col).alias("_id"), ws_tokens(text_col).alias("_ts")
    ).select(
        "_id",
        F.size("_ts").cast("bigint").alias("n_tokens"),
        F.posexplode_outer("_ts").alias("_pos", "_tok"),
    )
    flagged = toks.join(del_pos, ["_id", "_pos"], "left")
    keep_tok = F.col("_del").isNull() & F.col("_tok").isNotNull()
    # collect_list skips the NULLs that when() yields for deleted
    # tokens and marker rows, so the collected array holds exactly the
    # kept (pos, token) structs
    rebuilt = flagged.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep_tok, F.struct("_pos", "_tok")))
                ),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("text"),
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.when(keep_tok, F.lit(1))).alias("n_kept"),
    )
    return rebuilt.select(
        F.col("_id").alias(id_col), "text", "n_tokens", "n_kept"
    )


def ngram_overlap_fraction(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document contamination SEVERITY: the fraction of a corpus
    doc's distinct ``n``-grams that appear anywhere in the eval set.
    :func:`ngram_decontaminate` answers "which docs collide";
    pipelines then drop or keep by HOW MUCH they collide (a quoted
    benchmark question inside a long article is not the benchmark
    itself) — this emits that decision variable.

    Shape at scale: per-doc gram dedup happens inside the row
    (``array_distinct`` before the explode — no shuffle); the eval
    gram set is one benchmark-sized distinct; the membership test is
    a single left join against it (broadcast-eligible, deliberately
    un-hinted like :func:`ngram_decontaminate`) feeding ONE map-side-
    combined per-doc aggregate — a doc's exploded grams stay in one
    partition, so the shuffle carries one row per doc.  The fraction
    is int/int (bit-exact cross-engine, no rounding).  Docs with
    < ``n`` tokens keep a row with ``n_grams = 0`` and NULL fraction
    via the roster join.  ``hash_grams=True`` is the same 8-byte
    shuffle-key path as :func:`ngram_decontaminate`.
    """
    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(_word_ngrams_expr(text_col, n))).alias("g"),
    )
    eg = eval_df.select(F.explode(_word_ngrams_expr(text_col, n)).alias("g"))
    if hash_grams:
        # hash BEFORE the distinct so the one eval-side shuffle runs on
        # 8-byte keys (hashing after would add a second distinct on top
        # of a full-string shuffle, defeating the flag's purpose)
        cg = cg.select("doc_id", F.xxhash64("g").alias("g"))
        eg = eg.select(F.xxhash64("g").alias("g"))
    eg = eg.distinct()
    agg = (
        cg.join(eg.withColumn("_hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    roster = corpus.select(F.col(id_col).alias("doc_id"))
    return roster.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.when(
            F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")
        ).alias("overlap_frac"),
    )


# ---------------------------------------------------------------------------
# winnowing overlap (partial-overlap / containment candidates)
# ---------------------------------------------------------------------------

def winnow_overlap_pairs(
    df: DataFrame,
    min_shared: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — PARTIAL-overlap / containment detection (quotation, boilerplate
    reuse, doc-inside-doc), which whole-document Jaccard misses: a
    paragraph embedded in a much larger doc barely moves the Jaccard
    but reliably shares its winnowed fingerprints (guaranteed for any
    common substring of length >= k+w-1, density ~2/(w+1)).

    Scale shape: the standard bucketed pair generator — fingerprint
    equi-join (merge-hinted: both sides are corpus-sized; broadcast is
    only viable at toy scale), map-side-combinable count per pair,
    never all-pairs.  Hot fingerprints (boilerplate shared by many
    docs) fan out quadratically within their bucket exactly like hot
    shingles in the prefix join — cap them upstream by dropping
    fingerprints with document frequency above a threshold if the
    corpus has mass-duplicated boilerplate.

    Defaults are quotation-scale (k=16/w=8: guarantee window 23
    chars).  Small k degenerates: at k=8 every doc shares common-word
    8-grams and the pair set approaches all-pairs (measured 88k pairs
    over 500 docs vs 47 at the defaults).
    """
    from .text import winnow_fingerprints

    fps = winnow_fingerprints(df, text_col=text_col, id_col=id_col, k=k, w=w)
    a = fps.select(F.col(id_col).alias("id_a"), "fp").hint("merge")
    b = fps.select(F.col(id_col).alias("id_b"), "fp").hint("merge")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# line-level exact dedup (C4 / RefinedWeb duplicated-line removal)
# ---------------------------------------------------------------------------

def remove_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 1,
    sep: str = "\n",
    scope_col: "str | None" = None,
) -> DataFrame:
    """Corpus-wide exact line dedup: every line keeps exactly ONE
    occurrence — the globally first by ``(doc_id, position)`` — and
    all later occurrences are deleted from their documents.  This is
    the duplicated-line-removal step of the C4 / RefinedWeb / CCNet
    recipes (boilerplate, navigation chrome, and licence banners
    repeat verbatim across pages; whole-document dedup never sees
    them), applied at document granularity here because the corpus
    carries no page structure.

    ``scope_col`` (round 11) scopes the dedup the way RefinedWeb
    actually runs it: lines collapse only WITHIN the same scope value
    (domain / source / crawl snapshot), so navigation chrome repeated
    across one site is stripped while a legitimately common line in
    two unrelated sources survives in both.  ``None`` keeps the
    corpus-global behavior.  Scoping also de-fangs the hot-key
    pathology below: the reduce key becomes (scope, line), so a
    banner shared by every site no longer converges on one reducer.

    Lines shorter than ``min_line_chars`` (after no normalization —
    exact bytes) are EXEMPT: they are always kept, so blank separator
    lines survive.  Documents whose every line is deleted come back
    with ``text`` = '' rather than disappearing.

    Scale shape: two line-volume shuffles, no winner-back join, and
    exactly TWO scans of ``df`` (roster + lines — exempt and subject
    lines share one groupBy instead of a union of two filtered
    branches, which would rescan the corpus a third time).
      1. explode to (id, pos, line), groupBy ``(line, occ)`` where
         ``occ`` is NULL for subject lines (all occurrences collapse
         into one global group) and ``struct(id, pos)`` for exempt
         lines (every occurrence is its own singleton group, so all
         survive); ``min(struct(id, pos))`` — the keeper of each
         group IS the aggregate's output row, so no winner-back join
         is needed.  Map-side partial aggregation absorbs within-
         partition repeats before the exchange; the shuffle key is
         the line text itself because the winning line must travel to
         the reducer anyway (an 8-byte hash key would not shrink the
         row, unlike :func:`ngram_decontaminate`'s ``hash_grams``).
      2. reassembly: groupBy id, ``array_join(sort by pos)``.
    The only join is the map-only doc roster (id + line count, ~12
    bytes/row) LEFT-joined to the rebuilt docs so fully-deleted
    documents still come back — the rebuilt side arrives already
    hash-partitioned by id from its groupBy, so the exchange it adds
    is roster-sized, not corpus-sized.  Pathology to watch at 100 TB:
    one line duplicated across a large fraction of the corpus (an
    empty-ish banner) makes a hot reduce key — but map-side combine
    collapses each partition's copies to ONE candidate row, so the
    reducer receives at most n_partitions rows per line, never
    n_docs.

    ``sep`` is a Java regex (the ``F.split`` contract); the kept
    lines are re-joined with the same string, so pass a literal
    separator.

    Output: (id_col, text, n_lines, n_kept) — ``text`` is the
    reassembled document, counts let callers filter husk documents
    (e.g. ``n_kept / n_lines < 0.3``).
    """
    # NULL scopes need no sentinel: groupBy keys treat NULLs as
    # equal, so all unknown-domain docs share one dedup domain
    scope_cols = (
        [F.col(scope_col).alias("_scope")] if scope_col is not None else []
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), sep, -1).alias("_ls"),
        *scope_cols,
    )
    # map-only roster: every doc with its line count, so documents
    # whose every line loses still appear in the output (text='')
    roster = base.select("_id", F.size("_ls").alias("n_lines"))
    lines = base.select(
        "_id",
        *(["_scope"] if scope_col is not None else []),
        F.posexplode("_ls").alias("_pos", "_line"),
    )
    # one groupBy covers both regimes: exempt lines get a unique
    # per-occurrence key component (every occurrence is its own
    # group and survives), subject lines get NULL (global collapse —
    # per scope when scope_col is set).
    occ = F.when(
        F.length("_line") < min_line_chars, F.struct("_id", "_pos")
    ).alias("_occ")
    group_keys = (
        [F.col("_scope"), F.col("_line"), occ]
        if scope_col is not None
        else [F.col("_line"), occ]
    )
    kept = (
        lines.groupBy(*group_keys)
        .agg(F.min(F.struct("_id", "_pos")).alias("_w"))
        .select(
            F.col("_w._id").alias("_id"),
            F.col("_w._pos").alias("_pos"),
            "_line",
        )
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        roster.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def pair_metrics(
    pred: DataFrame,
    truth: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Precision/recall/F1 of a candidate pair set against ground
    truth — the evaluation loop for tuning sketch parameters
    (MinHash bands, SimHash radius, LSH tables) against an exact
    method on a sample, the way :func:`~dfsql_spark.operators.
    similarity.semantic_dedup_pairs`'s contract entry is graded.

    Pairs are undirected: each side is canonicalized to
    ``(least, greatest)`` and deduplicated before comparison, so
    orientation and repeats never skew the counts.  Returns ONE row
    ``(n_pred, n_true, n_common, precision, recall, f1)`` (NULL
    metrics on empty denominators).  Shape: two distincts plus one
    equi-join on the 16-byte canonical pair — nothing wider ever
    shuffles.
    """

    def canon(df: DataFrame) -> DataFrame:
        a, b = F.col(a_col), F.col(b_col)
        return df.select(
            F.least(a, b).alias("_pa"), F.greatest(a, b).alias("_pb")
        ).distinct()

    p, t = canon(pred), canon(truth)
    counts = (
        p.withColumn("_in_p", F.lit(1))
        .join(t.withColumn("_in_t", F.lit(1)), ["_pa", "_pb"], "full")
        .agg(
            F.count("_in_p").alias("n_pred"),
            F.count("_in_t").alias("n_true"),
            F.sum(
                (F.col("_in_p").isNotNull() & F.col("_in_t").isNotNull()).cast(
                    "long"
                )
            ).alias("n_common"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("n_common") / F.col("n_pred"))
    rec = F.when(F.col("n_true") > 0, F.col("n_common") / F.col("n_true"))
    return counts.select(
        "n_pred",
        "n_true",
        "n_common",
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(
            prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
            2 * prec * rec / (prec + rec),
        ).alias("f1"),
    )


def source_overlap_matrix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "exact",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Cross-source contamination matrix: for every ORDERED pair of
    sources ``(a, b)``, the fraction of ``a``'s documents that also
    occur in ``b`` — the mix-auditing table you build before blending
    N crawl/corpus sources (duplicate mass between sources silently
    up-weights the shared documents; the matrix says where).

    ``mode="exact"``: a document "occurs in b" when its normalized
    content hash (:func:`normalize_text` → sha2-256, first 32 hex
    chars = 128 bits) appears in ``b``.  Counts are over DISTINCT
    hashes per source, so within-source duplicates can't inflate the
    numerator or denominator; the matrix is complete (every ordered
    pair, zeros included) and asymmetric by construction —
    ``frac(a→b)`` divides by ``|a|``.  Rows with NULL source are
    excluded (flag-don't-guess: a NULL crawl label is a data bug, not
    an overlap fact), and so are NULL-text rows (their hash is NULL —
    no content, no overlap identity; counting them would deflate
    every fraction since a NULL key can never join).

    ``mode="minhash"``: "occurs in b" relaxes to "has a MinHash-LSH
    near-duplicate in b" (same banded join as :func:`minhash_lsh_pairs`
    with ``verify_threshold=threshold``); counts are distinct
    DOCUMENTS of ``a`` with ≥1 neighbor in ``b``, over all of ``a``'s
    docs.  Sketch-based — property-tested against the exact mode, no
    SQL oracle.

    Scale shape (exact): one scan → distinct ``(source, hash128)``
    (map-side combined), PINNED (:func:`_persist`; release via
    :func:`release_persists`) —
    it feeds the size aggregate AND both self-join sides, and without
    the pin each consumer recomputes the scan+distinct (plan-verified
    4 corpus scans → 1).  The self-join key is the 16-byte hash, the
    per-pair count is ``#sources²`` rows, and the completing cross
    join multiplies two #sources-sized aggregates — nothing corpus-
    sized survives the pinned distinct.  (minhash): the candidate
    pair table is pinned the same way (it is consumed once per
    direction), next to :func:`minhash_lsh_pairs`'s signature table;
    only ids and band hashes shuffle.

    Output: ``(src_a, src_b, n_a, n_b, n_common, frac_a_in_b)``.
    """
    if mode not in ("exact", "minhash"):
        raise ValueError(f"mode must be 'exact' or 'minhash', got {mode!r}")
    src = F.col(source_col)
    if mode == "exact":
        # NULL text yields a NULL hash and empty/whitespace text
        # normalizes to '' — drop BOTH here (no content, no overlap
        # identity, the same posture as url_dedup's NULL canonical
        # URL).  A NULL key can never join, so counting it in n_a/n_b
        # would silently deflate every fraction; the '' identity is
        # worse — sha2('') is one shared hash, so two sources that
        # each hold a single blank doc would register as mutual
        # overlap, inflating frac_a_in_b for small sources
        # (round-11 advisor).
        d = _persist(
            df.filter(src.isNotNull())
            .select(
                src.alias("_src"),
                normalize_text(F.col(text_col)).alias("_t"),
            )
            .where(F.col("_t").isNotNull() & (F.length("_t") > 0))
            .select(
                "_src",
                F.sha2(F.col("_t"), 256).substr(1, 32).alias("_h"),
            )
            .distinct()
        )
        sizes = d.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
        common = (
            d.select(F.col("_src").alias("_sa"), "_h")
            .join(d.select(F.col("_src").alias("_sb"), "_h"), "_h")
            .filter(F.col("_sa") != F.col("_sb"))
            .groupBy("_sa", "_sb")
            .agg(F.count(F.lit(1)).alias("_nc"))
        )
    else:
        # same no-content posture as exact mode: a blank doc has no
        # shingles, so it can never have a neighbor — counting it in
        # the denominator would deflate frac_a_in_b inconsistently
        # with the exact mode's exclusion
        norm = normalize_text(F.col(text_col))
        docs = df.filter(src.isNotNull() & (F.length(norm) > 0))
        roster = docs.select(F.col(id_col).alias("_id"), src.alias("_src"))
        sizes = roster.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
        pairs = _persist(
            minhash_lsh_pairs(
                docs,
                text_col=text_col,
                id_col=id_col,
                num_perm=num_perm,
                bands=bands,
                seed=seed,
                verify_threshold=threshold,
            )
        )
        # undirected pairs -> both directions, then source labels
        directed = pairs.select(
            F.col("id_a").alias("_ia"), F.col("id_b").alias("_ib")
        ).union(
            pairs.select(
                F.col("id_b").alias("_ia"), F.col("id_a").alias("_ib")
            )
        )
        labeled = (
            directed.join(
                roster.select(
                    F.col("_id").alias("_ia"), F.col("_src").alias("_sa")
                ),
                "_ia",
            )
            .join(
                roster.select(
                    F.col("_id").alias("_ib"), F.col("_src").alias("_sb")
                ),
                "_ib",
            )
            .filter(F.col("_sa") != F.col("_sb"))
        )
        # distinct docs of a with >=1 neighbor in b
        common = labeled.groupBy("_sa", "_sb").agg(
            F.countDistinct("_ia").alias("_nc")
        )
    grid = (
        sizes.select(F.col("_src").alias("_sa"), F.col("_n").alias("n_a"))
        .crossJoin(
            sizes.select(F.col("_src").alias("_sb"), F.col("_n").alias("n_b"))
        )
        .filter(F.col("_sa") != F.col("_sb"))
    )
    return (
        grid.join(common, ["_sa", "_sb"], "left")
        .select(
            F.col("_sa").alias("src_a"),
            F.col("_sb").alias("src_b"),
            "n_a",
            "n_b",
            F.coalesce("_nc", F.lit(0)).alias("n_common"),
            (F.coalesce("_nc", F.lit(0)) / F.col("n_a")).alias(
                "frac_a_in_b"
            ),
        )
    )


def lsh_plan(
    threshold: float,
    num_perm: int = 64,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
    grid: int = 2000,
) -> dict:
    """Choose MinHash-LSH banding parameters for a target Jaccard
    ``threshold`` — the knob-setting step BEFORE
    :func:`minhash_lsh_pairs` runs at corpus scale, where a mis-tuned
    band count either floods the verify stage with false candidates
    (too many bands) or silently drops true near-dups (too few).

    Standard S-curve analysis (Mining of Massive Datasets §3.4): with
    ``b`` bands of ``r = num_perm // b`` rows, a pair with true
    Jaccard ``s`` becomes a candidate with probability
    ``P(s) = 1 − (1 − s^r)^b``.  For every ``b`` dividing ``num_perm``
    the planner integrates the two error masses (midpoint rule over
    ``grid`` steps)::

        fp_area = ∫_0^t     P(s)      ds   (candidates that shouldn't be)
        fn_area = ∫_t^1  (1 − P(s))   ds   (near-dups never paired)

    and returns the plan minimizing
    ``fp_weight·fp_area + fn_weight·fn_area`` (ties to fewer bands —
    fewer bands = fewer shuffled band rows per document).  Weight
    false negatives heavier (``fn_weight > fp_weight``) when the
    verify stage re-checks candidates exactly anyway and missing a
    dup is the real cost, e.g. decontamination.

    Driver-side pure math over the PARAMETER space (a few divisors ×
    ``grid`` floats) — no data touched.  Returns a dict::

        {bands, rows, s50, fp_area, fn_area, cost}

    where ``s50 = (1/b)^(1/r)`` is the similarity at which the
    S-curve crosses 50% candidate probability (keep it near
    ``threshold``).  Pass the result's ``bands`` straight to
    :func:`minhash_lsh_pairs` / :func:`minhash_dedup`.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_perm < 2:
        raise ValueError(f"num_perm must be >= 2, got {num_perm}")
    if grid < 10:
        raise ValueError(f"grid must be >= 10, got {grid}")
    plans = []
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        fp = fn = 0.0
        step = 1.0 / grid
        for i in range(grid):
            s = (i + 0.5) * step
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p * step
            else:
                fn += (1.0 - p) * step
        plans.append(
            {
                "bands": b,
                "rows": r,
                "s50": (1.0 / b) ** (1.0 / r),
                "fp_area": fp,
                "fn_area": fn,
                "cost": fp_weight * fp + fn_weight * fn,
            }
        )
    return min(plans, key=lambda p: (p["cost"], p["bands"]))
