"""Text analysis operators for training-data pipelines.

North-star capability (BASELINE.json): language ID, quality scoring,
token counting, and document fingerprinting over the ``documents``
table.  Stats/quality/lang-id are built-in Spark SQL expressions
(split / regexp / array functions); the order-sensitive fingerprint is
an Arrow-batched pandas UDF because per-character SQL aggregation
evaluates interpreted and quadratically — every operator is a pure
per-row map, so the plan scans 100 TB with no shuffle at all.

Determinism: ratios are quotients of integer counts and fingerprints
are integer polynomial hashes, so results are bit-identical across
engines (see __spark_entry__ determinism policy).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Compact per-language stopword marker sets for the n-gram/stopword
# language heuristic.  Deliberately small and public-knowledge; at
# production scale you'd swap in a real lang-id model via mapInPandas.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "por", "para"],
}

_PUNCT_RE = r"[^a-zA-Z0-9\s]"
_ALPHA_RE = r"[^a-zA-Z]"
_DIGIT_RE = r"[^0-9]"

FINGERPRINT_MOD = 2147483647  # 2^31 - 1: (acc*31 + c) stays in int64


def _salted_bucket(
    text_col: "str | Column", buckets: int, salt: str | None = None
) -> Column:
    """Content-addressed bucket in [0, buckets): first 8 hex chars of
    md5(salt ':' text) as a 32-bit int, mod buckets.  THE determinism
    contract shared by deterministic_split / stratified_sample /
    rebalance_mix / write_training_shards and their DuckDB oracles
    (``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT) % buckets``) —
    change it here and in every oracle together, never in one place.
    ``salt=None`` hashes the bare text (the split's assignment);
    a salt decorrelates a sampler's keep decisions from the split.
    Accepts a Column for computed keys (cast ids, concatenations)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    h = F.md5(c) if salt is None else F.md5(F.concat(F.lit(salt + ":"), c))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets


def ws_tokens(text_col: str = "text", lower: bool = False) -> Column:
    """THE whitespace-token definition, shared module-wide: ASCII
    ``\\s+`` split of the raw (un-trimmed) text with empty tokens
    removed.  One definition everywhere so e.g. ``token_count`` and
    ``repetition_ratio`` can never disagree on a tab/newline-edged or
    empty document (they did, pre round 8).  Properties:

    * NULL text and all-whitespace text → ``[]`` (size 0), never
      ``['']`` (size 1) — the trim-then-split form got this wrong.
    * internal ``\\s+`` runs never produce empty tokens, so the
      ``array_remove`` only ever drops edge empties.
    * DuckDB mirror:
      ``list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
      x -> x <> '')``.
    * Python mirror (dedup._word_ngrams_expr pinned UDF):
      ``[x for x in re.compile(r'\\s+', re.ASCII).split(t or '') if x]``.

    KNOWN ``\\x0B`` DIVERGENCE (round-8 advice): Java's ``\\s`` (this
    expression) and Python's ``re.ASCII \\s`` both include vertical
    tab ``\\x0B``; DuckDB's RE2 ``\\s`` is ``[ \\t\\n\\f\\r]`` only —
    text containing ``\\x0B`` tokenizes differently in the DuckDB
    oracle mirror.  Pinned explicitly (Spark+Python agree, DuckDB
    documented-divergent) in
    tests/test_operators.py::test_ws_tokens_one_definition_across_mirrors;
    the synthetic corpus contains no ``\\x0B``, and real-corpus callers
    who care should pre-normalize ``\\x0B`` → `` `` before tokenizing.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    if lower:
        c = F.lower(c)
    return F.array_remove(F.split(c, r"\s+"), "")


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokens of the text (array<string>); see
    :func:`ws_tokens` for the exact token definition."""
    return ws_tokens(text_col)


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document structural statistics: lengths, token counts,
    character-class ratios.  All integer-derived (exact)."""
    n_chars = F.length(F.col(text_col))
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), _ALPHA_RE, ""))
    digit_chars = F.length(F.regexp_replace(F.col(text_col), _DIGIT_RE, ""))
    punct_chars = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), _PUNCT_RE, "")
    )
    # sum of token lengths == count of non-whitespace chars: one native
    # regexp instead of an interpreted per-token lambda aggregate
    token_len_sum = F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (token_len_sum / n_tokens).alias("avg_token_len"),
        (alpha_chars / n_chars).alias("alpha_ratio"),
        (digit_chars / n_chars).alias("digit_ratio"),
        (punct_chars / n_chars).alias("punct_ratio"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        (F.size(F.array_distinct(toks)) / n_tokens).alias("ttr"),  # type-token ratio
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality score in [0,1]: favors alphabetic, lexically
    diverse, mid-length documents; penalizes punctuation/digit noise.
    (Gopher/C4-style structural filters, re-expressed as one select.)"""
    stats = text_stats(df, text_col, id_col)
    length_term = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.35) * F.col("alpha_ratio")
        + F.lit(0.25) * F.col("ttr")
        + F.lit(0.25) * length_term
        + F.lit(0.15) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
    )
    return stats.select(id_col, "n_tokens", score.alias("quality"))


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-vote language heuristic: count token hits against each
    language's marker set; argmax with deterministic (alphabetical)
    tie-break; 'und' (undetermined) when no hits.

    At scale this is a pure map over token arrays — no shuffle at all.
    """
    toks = tokens(text_col)
    low = F.transform(toks, F.lower)
    hit_cols = []
    for lang in sorted(STOPWORDS):
        marker = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(low, lambda t: F.array_contains(marker, t)))
        hit_cols.append(hits.alias(f"hits_{lang}"))
    out = df.select(F.col(id_col), F.col(text_col), *hit_cols)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed: earlier alphabetical language wins ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.select(
        id_col, *[f"hits_{lang}" for lang in langs], pred.alias("lang_pred")
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic 31-bit polynomial rolling hash of the normalized
    text: acc = (acc*31 + ascii(char)) mod (2^31-1).

    Engine-portable (plain int64 arithmetic) and order-sensitive, so it
    distinguishes permuted documents — unlike bag-of-shingles sketches.
    """
    # Arrow-batched UDF: a split/aggregate SQL formulation evaluates
    # the per-character lambda interpreted (higher-order functions are
    # outside whole-stage codegen) — measured ~12 s for 5k docs vs
    # <1 s here.  Deterministic per-row map; pipelines into the scan.
    import re as _re

    from pyspark.sql.functions import pandas_udf

    # ASCII \s: agree with the DuckDB oracle (RE2) and Spark-native
    # normalization (Java regex), which split ASCII whitespace only
    ws = _re.compile(r"\s+", _re.ASCII)

    @pandas_udf("bigint")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            norm = ws.sub(" ", (t or "").lower()).strip()
            acc = 0
            for ch in norm:
                # ord == ascii()/codepoint in Spark and DuckDB alike
                acc = (acc * 31 + ord(ch)) % FINGERPRINT_MOD
            out.append(acc)
        return pd.Series(out, dtype="int64")

    return df.select(F.col(id_col), _fp(F.col(text_col)).alias("fingerprint"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting scheme): hash every
    character ``k``-gram of the normalized text, slide a window of
    ``w`` consecutive hashes, keep each window's minimum.  Guarantees:
    any shared substring of length ≥ ``k + w - 1`` yields at least one
    shared fingerprint, and the selected density is ~``2/(w+1)`` —
    position-robust partial-overlap detection that bag-of-shingles
    Jaccard (d02) and order-sensitive whole-doc hashing (t04) both
    miss.  Overlap candidates are then a fingerprint equi-join — the
    same bucketed-join shape as every other dedup pair generator, never
    all-pairs.

    Output: one row per distinct (id, fp).  Pure Arrow-batched per-row
    map + explode — no shuffle at any scale (per-doc dedup of
    fingerprints happens inside the UDF).  Hashes are plain int64
    polynomial arithmetic mod 2^31-1, bit-identical in DuckDB.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    import re as _re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # ASCII \s: agree with the DuckDB oracle (RE2) and Spark-native
    # normalization (Java regex), which split ASCII whitespace only
    ws = _re.compile(r"\s+", _re.ASCII)
    # weights are 31^j REDUCED mod 2^31-1: identical result after the
    # final mod (31^j ≡ 31^j mod M), but every term stays < 2^21 * 2^31
    # = 2^52 and the k-term sum < 2^52 * k — no int64 overflow for any
    # practical k (raw 31^j would overflow at k > 13)
    weights = np.array(
        [pow(31, j, FINGERPRINT_MOD) for j in range(k - 1, -1, -1)],
        dtype=np.int64,
    )

    @pandas_udf("array<bigint>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            norm = ws.sub(" ", (t or "").lower()).strip()
            if len(norm) < k:
                out.append([])
                continue
            codes = np.array([ord(c) for c in norm], dtype=np.int64)
            grams = np.lib.stride_tricks.sliding_window_view(codes, k)
            hs = (grams * weights).sum(axis=1) % FINGERPRINT_MOD
            if len(hs) < w:
                sel = hs.min(keepdims=True)
            else:
                sel = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
            out.append(np.unique(sel).tolist())
        return pd.Series(out)

    return df.select(
        F.col(id_col), F.explode(_winnow(F.col(text_col))).alias("fp")
    )


# GPT-2-style pre-tokenizer pieces: contractions, letter runs, digit
# runs, punctuation runs, whitespace runs.  Java regex (used by Spark)
# and PCRE (DuckDB) agree on this subset, so oracles can replicate it.
BPE_PIECE_RE = r"'[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counts per document under two tokenizers:

    * ``ws_tokens`` — whitespace split (the cheap LLM-budget estimate)
    * ``bpe_pieces`` — count of GPT-2-style pre-tokenization pieces
      (letter runs / digit runs / punctuation runs / contractions), the
      standard upper-bound proxy for BPE token count without a vocab.

    Both are ``regexp_count``-style native expressions — a pure map
    over the scan, no shuffle, codegen'd.
    """
    ws = F.size(ws_tokens(text_col))
    # pattern as a Column literal: embedding it in an expr() string
    # would put it through SQL string-literal escaping, mangling \s
    pieces = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_PIECE_RE), F.lit(0))
    )
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        pieces.alias("bpe_pieces"),
        (F.length(F.col(text_col)) / F.greatest(pieces, F.lit(1))).alias(
            "chars_per_piece"
        ),
    )


def deterministic_split(
    df: DataFrame,
    weights: "dict[str, float] | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Content-addressed train/val/test assignment.

    The split key is MD5 of the document TEXT (not the id): the
    assignment is stable across dataset versions, re-partitionings,
    and engines, and a document that reappears under a new id lands in
    the same split — the standard defense against test-set leakage
    when a corpus is re-scraped.  Pure per-row map (one hash + one
    comparison chain), no shuffle, so it pipelines into the scan at
    any scale.

    ``weights`` maps split name → fraction (default 90/5/5); fractions
    are quantized to ``buckets`` (bucket = first 8 hex chars of the
    MD5 mod ``buckets``), so the realized proportions are exact in
    expectation and the bucket boundaries are portable integers —
    DuckDB reproduces the assignment bit-for-bit from the same SQL
    shape.
    """
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    expr = _split_expr(_salted_bucket(text_col, buckets), weights, buckets)
    return df.select(F.col(id_col), expr.alias("split"))


def _split_expr(
    bucket: Column, weights: "dict[str, float]", buckets: int
) -> Column:
    """Cumulative-edge split assignment over a [0, buckets) bucket —
    THE quantization shared by :func:`deterministic_split` and
    :func:`grouped_split` and mirrored by their DuckDB oracles
    (``bucket < round(cum_weight * buckets)`` edges, last name as the
    otherwise): change the edge rounding here and in the oracles
    together, never in one operator's copy."""
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    expr = None
    edge = 0.0
    names = list(weights)
    for name in names[:-1]:
        edge += weights[name]
        cond = bucket < int(round(edge * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])


def grouped_split(
    df: DataFrame,
    group_col: str,
    weights: "dict[str, float] | None" = None,
    id_col: str = "doc_id",
    buckets: int = 10_000,
    salt: str = "gsplit",
) -> DataFrame:
    """Group-cohesive train/val/test assignment: every row of a group
    (domain, source site, crawl seed, author) lands in the SAME split
    — the leakage-safe split for web corpora, where documents from one
    domain share templates, boilerplate, and near-duplicate content
    that :func:`deterministic_split`'s per-document assignment would
    smear across train and test (the sklearn ``GroupShuffleSplit``
    contract, content-addressed).

    The split key is the md5 bucket of the GROUP value (``salt``
    namespaces it away from the samplers), so the assignment is stable
    across dataset versions, re-partitionings, and engines, and a
    domain keeps its split when the corpus is re-scraped.  Realized
    proportions track ``weights`` in GROUPS, not rows — a heavy domain
    drags its whole row mass with it, which is exactly the point.

    NULL groups get a NULL split (flag, don't guess: silently pooling
    every unattributed document into one pseudo-group would both skew
    the split and hide the missing metadata).  Pure per-row map — one
    hash + one comparison chain, no shuffle, pipelines into the scan
    at any scale.

    Output: ``(id_col, group_col, split)``.
    """
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    expr = _split_expr(
        _salted_bucket(group_col, buckets, salt), weights, buckets
    )
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.when(F.col(group_col).isNotNull(), expr).alias("split"),
    )


def vocab_topk(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Corpus-level top-k token frequencies (the vocabulary head).

    One explode + one hash aggregate: partial counts combine map-side,
    so the shuffle carries (distinct-token × partition) partial rows —
    vocabulary-sized, not corpus-sized.  The final top-k is a single
    ORDER BY/LIMIT over the vocabulary aggregate (count desc, token
    asc for a deterministic tie-break).  At 100 TB the only scaling
    knob that matters is vocabulary cardinality; token skew ("the") is
    absorbed by the map-side partial aggregation, not a hot reducer.
    """
    tok = F.explode(ws_tokens(text_col)).alias("token")
    src = df.select(tok)
    if normalize:
        src = src.select(F.lower(F.col("token")).alias("token"))
    return (
        src.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    max_chars: int = 500,
    overlap: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-budget overlapping chunks with full
    provenance — the context-window packing precursor (long doc ->
    model-sized pieces; the overlap keeps boundary-spanning content
    learnable/retrievable).

    Chunk ``i`` starts at ``1 + i*stride`` (``stride = max_chars -
    overlap``); the count ``1 + ceil((len - max_chars)/stride)``
    guarantees full coverage with only the last chunk short.  Emits
    (id, chunk_idx, chunk_start, chunk, n_chunk_chars).

    Plan: ``explode(sequence(...))`` + ``substring`` — all inside
    whole-stage codegen (no higher-order lambdas: transform() would
    evaluate interpreted), zero shuffle, output rows ~= corpus_bytes /
    stride at any scale.  Integer start/count arithmetic is exact
    across engines.
    """
    if max_chars < 1 or overlap < 0 or overlap >= max_chars:
        raise ValueError(
            f"need max_chars >= 1 and 0 <= overlap < max_chars, "
            f"got max_chars={max_chars}, overlap={overlap}"
        )
    stride = max_chars - overlap
    n = F.length(F.col(text_col))
    extra = F.greatest(n - max_chars, F.lit(0))
    # integer ceil-div: 1 + floor((extra + stride - 1) / stride)
    n_chunks = F.lit(1) + F.floor((extra + F.lit(stride - 1)) / F.lit(stride))
    start = F.lit(1) + F.col("chunk_idx") * stride
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int"))
            ).alias("chunk_idx"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            start.cast("bigint").alias("chunk_start"),
            F.substring(F.col(text_col), start.cast("int"), max_chars).alias(
                "chunk"
            ),
        )
        .withColumn("n_chunk_chars", F.length("chunk").cast("bigint"))
    )


def unigram_familiarity(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-statistics quality signal: how much of a document is
    made of the corpus's own common words.  Two passes — build the
    top-``vocab_size`` unigram table (t07's map-side-combined count,
    deterministic count-desc/token-asc tie-break), then score each
    document by joining its tokens against the (broadcast) vocabulary:
    ``n_tokens``, ``n_oov`` (tokens outside the head vocabulary), and
    ``freq_mass`` (summed corpus frequency of its tokens).  Rare-word
    soup, keyboard mash, and wrong-language text score high-OOV /
    low-mass — the same role a unigram-LM logprob plays in published
    quality filters, but INTEGER-exact: no log/float accumulation, so
    results are bit-identical across engines and partitionings.

    Scale shape: the vocabulary aggregate's shuffle is
    vocabulary-sized (skew absorbed map-side), the head table is tiny
    and broadcast, and the per-doc re-aggregation shuffles (id,
    partial-sum) pairs with map-side combine.  Zero Python.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    toks = (
        df.select(
            F.col(id_col),
            F.explode(ws_tokens(text_col)).alias("raw"),
        )
        .select(F.col(id_col), F.lower(F.col("raw")).alias("token"))
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(vocab_size)
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("freq_mass"),
        )
    )


# Deliberately simple, auditable patterns (RE2/Java/PCRE-portable
# subset: no backrefs, no lookaround).  A production deployment would
# swap in a maintained PII library via the same map shape.
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: "dict[str, str] | None" = None,
    append: bool = False,
) -> DataFrame:
    """Redact PII spans and count per-pattern occurrences.
    ``append=True`` keeps every input column (chain per-row signal
    operators into one fused projection — the p01 capstone shape).

    Each pattern is applied as a chained ``regexp_replace`` (→
    ``[REDACTED_KIND]``) with a ``regexp_count`` per kind — all native
    codegen'd expressions, a pure per-row map over the scan: zero
    shuffle at any scale, and the patterns are drawn from the regex
    subset Java (Spark) and RE2/PCRE (DuckDB, the oracle) agree on.
    Order is deterministic (dict order): earlier redactions can't
    create later matches because replacement tokens contain no
    pattern-matchable characters.

    Count semantics: ``n_<kind>`` counts occurrences of each pattern in
    the ORIGINAL text, while replacements chain on progressively
    scrubbed text — a match nested inside an earlier kind's match
    (an SSN-shaped run inside an email local part) is counted under
    its own kind but was redacted as part of the earlier span.  Counts
    are per-pattern occurrence tallies, not redactions performed; the
    oracle mirrors the same definition.
    """
    patterns = patterns or PII_PATTERNS
    scrubbed = F.col(text_col)
    counts = []
    for kind, pat in patterns.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"[REDACTED_{kind.upper()}]")
    outs = [scrubbed.alias("clean_text"), *counts]
    if append:
        # fuse with surrounding per-row signals in ONE projection
        return df.select("*", *outs)
    return df.select(F.col(id_col), *outs)


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    append: bool = False,
) -> DataFrame:
    """C4-style document-level heuristic filter signals (the public
    C4/Gopher cleaning recipe): word count, fraction of lines ending in
    terminal punctuation, mean word length, curly-brace (code) and
    "lorem ipsum" (boilerplate) markers, plus the combined ``keep_doc``
    decision (length + word-shape + marker rules; the terminal-punct
    ratio is reported but not part of ``keep_doc`` — C4 applies that
    rule per-LINE removal, not document removal).

    Every signal is a codegen'd expression over the scan — a pure
    per-row map, zero shuffle at any scale — and every ratio is a
    quotient of integer counts, so values are bit-identical across
    engines.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    term_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike('[.!?"]$'))
    )
    # sum of word lengths = non-whitespace char count (one regexp, no
    # per-token lambda) — same identity text_stats uses
    mean_word_len = (
        F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / n_words
    )
    has_curly = F.col(text_col).contains("{")
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    keep = (
        (n_words >= F.lit(min_words))
        & (mean_word_len >= F.lit(min_mean_word_len))
        & (mean_word_len <= F.lit(max_mean_word_len))
        & ~has_curly
        & ~has_lorem
    )
    outs = [
        n_words.cast("int").alias("n_words"),
        n_lines.cast("int").alias("n_lines"),
        (term_lines / n_lines).alias("term_punct_ratio"),
        mean_word_len.alias("mean_word_len"),
        has_curly.alias("has_curly"),
        has_lorem.alias("has_lorem"),
        keep.alias("keep_doc"),
    ]
    if append:
        return df.select("*", *outs)
    return df.select(F.col(id_col), *outs)


PACK_SCHEMA = "doc_id bigint, source string, seq_id bigint, doc_tokens int"


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    max_docs_per_task: "int | None" = None,
) -> DataFrame:
    """Greedy sequence packing: concatenate documents (in ``id_col``
    order) into training sequences of at most ``budget`` whitespace
    tokens; a document that would overflow the open sequence starts a
    new one.  Documents longer than ``budget`` are counted as
    ``budget`` tokens (the trainer truncates them to one sequence).

    Packing is inherently sequential — each assignment depends on the
    running fill — so it runs as ``applyInPandas`` per ``shard_col``
    group: the corpus shuffles ONCE on the shard key, each shard packs
    independently, and parallelism equals shard count (at 100 TB a
    corpus has thousands of shards — source files, domains, crawl
    segments — so this matches how production packers actually run;
    a global pack order would serialize the corpus through one task by
    definition).  Output keeps per-document grain: (doc, shard,
    sequence id within shard, clamped token count) — an aggregation
    away from per-sequence stats, and join-back-able to the text.

    Token counting reuses the whitespace tokenizer (t05's
    ``ws_tokens``), keeping the op oracle-checkable: the same greedy
    recurrence is expressible as a recursive CTE in ANSI SQL.

    ``max_docs_per_task`` is the monster-shard escape hatch: one giant
    shard otherwise serializes through a single Python task.  When set,
    each shard is cut into contiguous (by ``id_col``) sub-shards of at
    most that many documents — the split point is a JVM-side
    ``row_number`` (a per-shard sort, which spills instead of
    serializing Python) — and each sub-shard packs independently in
    parallel.  Sequences never span a sub-shard boundary, so up to one
    partially-filled sequence per cut is the (bounded, deliberate)
    deviation from the unsalted pack.  ``seq_id`` stays deterministic
    and unique per shard via ``bucket * max_docs_per_task + local``
    (each bucket emits at most ``max_docs_per_task`` sequences), but is
    no longer contiguous.
    """
    toks = F.least(F.size(ws_tokens(text_col)), F.lit(budget))
    thin = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(shard_col).alias("source"),
        toks.cast("int").alias("doc_tokens"),
    )

    def greedy(tokens) -> list[int]:
        seq_ids = []
        seq, cum = 0, 0
        for t in tokens:
            if cum + t > budget:
                seq += 1
                cum = 0
            seq_ids.append(seq)
            cum += t
        return seq_ids

    if max_docs_per_task:
        from pyspark.sql.window import Window

        w = Window.partitionBy("source").orderBy("doc_id")
        thin = thin.withColumn(
            "_bucket",
            F.floor((F.row_number().over(w) - 1) / max_docs_per_task),
        )

        def pack_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            base = int(pdf["_bucket"].iloc[0]) * max_docs_per_task
            pdf["seq_id"] = pd.Series(
                [base + s for s in greedy(pdf["doc_tokens"])], dtype="int64"
            )
            return pdf[["doc_id", "source", "seq_id", "doc_tokens"]]

        return thin.groupBy("source", "_bucket").applyInPandas(
            pack_bucket, schema=PACK_SCHEMA
        )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pdf["seq_id"] = pd.Series(greedy(pdf["doc_tokens"]), dtype="int64")
        return pdf[["doc_id", "source", "seq_id", "doc_tokens"]]

    return thin.groupBy("source").applyInPandas(pack, schema=PACK_SCHEMA)


def packing_report(
    packed: DataFrame,
    budget: int,
    shard_col: str = "source",
    seq_col: str = "seq_id",
    tokens_col: str = "doc_tokens",
) -> DataFrame:
    """One-row efficiency card for a :func:`pack_sequences` output —
    the number that decides whether the packing budget (max_seq_len)
    is costing you compute: every unfilled token slot in a training
    sequence is padding the trainer still pays attention FLOPs for.

    Output (exact integers / int-ratio doubles)::

        (n_sequences, n_docs, total_tokens, budget, mean_fill,
         min_fill, max_fill, waste_frac)

    ``*_fill`` are per-sequence token sums over ``budget``;
    ``waste_frac`` = 1 − total_tokens / (n_sequences × budget), the
    padding fraction of the whole run — identically ``1 − mean_fill``
    (every sequence shares the one budget denominator), kept as its
    own column because it is the alerting number, computed FROM
    mean_fill so the identity can't drift.  Pairs with
    :func:`length_histogram` (what document lengths drove the waste)
    when deciding between a bigger budget and document chunking.

    Scale shape: one map-side-combined groupBy keyed on
    (shard, sequence) — a fresh doc-grain exchange (applyInPandas
    output partitioning is not reusable, and :func:`pack_sequences`
    partitions by shard alone), carrying nothing wider than three
    longs — then a one-row rollup over the #sequences-sized table.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    per_seq = packed.groupBy(shard_col, seq_col).agg(
        F.sum(tokens_col).alias("_fill"),
        F.count(F.lit(1)).alias("_n_docs"),
    )
    b = F.lit(float(budget))
    return per_seq.agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.sum("_n_docs").alias("n_docs"),
        F.sum("_fill").alias("total_tokens"),
        F.lit(budget).alias("budget"),
        (F.avg(F.col("_fill") / b)).alias("mean_fill"),
        F.min(F.col("_fill") / b).alias("min_fill"),
        F.max(F.col("_fill") / b).alias("max_fill"),
    ).withColumn("waste_frac", F.lit(1.0) - F.col("mean_fill"))


def stratified_sample(
    df: DataFrame,
    rates: "dict[str, float]",
    default_rate: float = 0.0,
    stratum_col: str = "source",
    text_col: str = "text",
    buckets: int = 10_000,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling — the dataset-mixing
    primitive (sample each source/domain/language at its own rate).

    Keep decision = md5(salt || text) bucket < rate × buckets, so the
    sample is content-addressed: stable across runs, partitionings,
    engines, and dataset versions (a re-scraped duplicate keeps its
    fate), and independent of the t06 split assignment because the
    hash is salted differently.  Pure per-row map — a filter that
    pipelines into the scan, no shuffle, no sampling state; realized
    rates are exact in expectation with binomial variance.

    ``rates`` maps stratum value → keep fraction; anything unlisted
    uses ``default_rate``.
    """
    for name, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    bucket = _salted_bucket(text_col, buckets, salt)
    rate = None
    for name, r in rates.items():
        thr = int(round(r * buckets))
        rate = (
            F.when(F.col(stratum_col) == name, thr)
            if rate is None
            else rate.when(F.col(stratum_col) == name, thr)
        )
    rate = (
        F.lit(int(round(default_rate * buckets)))
        if rate is None
        else rate.otherwise(int(round(default_rate * buckets)))
    )
    return df.filter(bucket < rate)


def rebalance_mix(
    df: DataFrame,
    target: "dict[str, float]",
    stratum_col: str = "source",
    text_col: str = "text",
    buckets: int = 10_000,
    salt: str = "mix",
) -> DataFrame:
    """Rebalance a corpus to a target stratum mix by down-sampling —
    the data-mixing step of a training run (e.g. 50% web / 30% code /
    20% books regardless of how the raw crawl is skewed).

    Where :func:`stratified_sample` applies USER-GIVEN per-stratum
    rates, this derives the rates from target proportions: the largest
    achievable total without up-sampling is ``T = min_s n_s / p_s``
    (the stratum that runs out first is kept fully), then stratum ``s``
    keeps ``rate_s = p_s * T / n_s``.  Strata absent from ``target``
    are dropped.  The keep decision reuses the salted-md5 bucket, so
    the sample is content-addressed: stable across runs, partitionings,
    engines, and dataset versions.

    Scale shape: ONE tiny per-stratum count aggregate (map-side
    combined, stratum-column-only scan, output rows = #strata), the
    global min taken as an unpartitioned window over that #strata-row
    relation (SinglePartition exchange of #strata rows, not a second
    corpus scan), and a broadcast join of the rates back onto the
    corpus — the full-width 100 TB scan happens exactly once and the
    keep filter pipelines into it.  All rate arithmetic is double
    division/multiplication in a fixed order (``(p * t) / n``),
    bit-identical to the SQL oracle.
    """
    if not target:
        raise ValueError("target must name at least one stratum")
    for name, p in target.items():
        if p <= 0.0:
            raise ValueError(f"target share for {name!r} must be > 0, got {p}")
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(target.items())],
        f"{stratum_col} string, p double",
    )
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    everything = Window.partitionBy()  # #strata rows — tiny by contract
    rates = (
        counts.join(F.broadcast(tgt), stratum_col)
        .withColumn("t", F.min(F.col("n") / F.col("p")).over(everything))
        .select(
            stratum_col,
            (F.col("p") * F.col("t") / F.col("n")).alias("keep_rate"),
        )
    )
    bucket = _salted_bucket(text_col, buckets, salt)
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(bucket < F.col("keep_rate") * buckets)
        .drop("keep_rate")
    )


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    priority_col: str,
    token_col: "str | None" = None,
    text_col: str = "text",
    bins: int = 1000,
    buckets: int = 10_000,
    salt: str = "budget",
) -> DataFrame:
    """Select the highest-``priority_col`` documents whose token mass
    fits ``budget_tokens`` — "give me the best N tokens" — WITHOUT a
    global sort: at 100 TB an ``ORDER BY priority`` prefix-sum means
    a total ordering (single-partition window or a full range
    exchange), so the threshold is found from a histogram instead.

    Construction: one aggregate fetches the priority min/max (two
    driver scalars, bounded); each row maps to one of ``bins``
    fixed-width priority bins; one aggregate sums token mass per bin
    (≤ ``bins`` output rows, collected — parameter-bounded).  The
    driver walks bins from the top: bins that fit entirely are kept
    whole, the one BOUNDARY bin is kept at the fraction of its token
    mass that still fits (content-addressed per row via the shared
    salted-md5 bucket), everything below drops.  The keep rule
    re-embeds as a literal broadcast frame, so the selection filter
    pipelines into the second (and final) corpus scan.

    Exactness: every non-boundary bin is exact; inside the boundary
    bin the realized token mass is the hash-luck realization of the
    keep fraction (binomial around the remainder) — so the total
    lands within ~one bin's dispersion of ``budget_tokens``; raise
    ``bins`` to tighten.  Deterministic for fixed data and
    parameters.  Dropped rows (no orderable mass / no content
    identity): NULL or NaN priority, NULL/negative token count — and
    rows with NULL ``text_col`` sample OUT of the boundary bin
    (content-addressing needs content; full bins keep them).  The
    boundary sampling hashes ``text_col``, which therefore must exist
    whenever the budget binds mid-bin; a budget that only ever keeps
    whole bins never consults it.  ``token_col=None`` derives the
    count with the shared whitespace tokenizer.

    Output: the selected rows plus ``_budget_bin`` (the priority bin,
    for audit).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    tok = F.col(token_col) if token_col else token_count(text_col)
    p_dbl = F.col(priority_col).cast("double")
    # NaN is NOT NULL, and Spark's max orders NaN above every number —
    # one NaN row would poison `hi` and collapse the binning (the same
    # NaN class cosine_arrow handles); drop it with the other unrankables
    base = df.where(
        F.col(priority_col).isNotNull()
        & ~F.isnan(p_dbl)
        & tok.isNotNull()
        & (tok >= 0)
    )
    stats = base.agg(
        F.min(F.col(priority_col).cast("double")).alias("lo"),
        F.max(F.col(priority_col).cast("double")).alias("hi"),
    ).first()
    lo, hi = stats["lo"], stats["hi"]
    spark = df.sparkSession
    if lo is None:
        return base.withColumn("_budget_bin", F.lit(0)).limit(0)
    # fixed-width binning; a constant priority degenerates to 1 bin
    width = (hi - lo) / bins if hi > lo else 1.0
    bin_expr = F.least(
        F.lit(bins - 1),
        F.floor((F.col(priority_col).cast("double") - lo) / width).cast("int"),
    )
    per_bin = (
        base.groupBy(bin_expr.alias("_budget_bin"))
        .agg(F.sum(tok.cast("long")).alias("_tokens"))
        .collect()  # <= `bins` rows — parameter-bounded driver action
    )
    masses = {r["_budget_bin"]: r["_tokens"] for r in per_bin}
    # the exact rule the DuckDB mirror spells with a window: a bin
    # keeps whole iff everything above it plus itself fits; the first
    # bin that overflows while the budget is still open keeps the
    # remaining fraction; everything after (above >= budget) drops —
    # including zero-mass bins, which keep whole only while the
    # budget is still open (above <= budget with m = 0)
    budget = int(budget_tokens)
    above = 0
    keep_frac: dict[int, float] = {}
    for b in sorted(masses, reverse=True):
        m = masses[b]
        if above + m <= budget:
            keep_frac[b] = 1.0
        elif above < budget:
            keep_frac[b] = (budget - above) / m  # the one boundary bin
        above += m
    rules = spark.createDataFrame(
        [(b, float(f)) for b, f in sorted(keep_frac.items())],
        "_budget_bin int, _keep double",
    )
    joined = base.withColumn("_budget_bin", bin_expr).join(
        F.broadcast(rules), "_budget_bin"
    )
    if all(f >= 1.0 for f in keep_frac.values()):
        # every surviving bin keeps whole — never consult the content
        # hash (works on frames with no text column at all)
        return joined.drop("_keep")
    bucket = _salted_bucket(text_col, buckets, salt)
    # full bins keep unconditionally (never consult the hash — a
    # NULL-text row hashes NULL, and NULL < x must not silently drop
    # a row the budget fully afforded); only the boundary bin samples
    return joined.filter(
        (F.col("_keep") >= 1.0) | (bucket < F.col("_keep") * buckets)
    ).drop("_keep")


def upsample_mix(
    df: DataFrame,
    target: "dict[str, float]",
    stratum_col: str = "source",
    text_col: str = "text",
    total: "int | None" = None,
    buckets: int = 10_000,
    salt: str = "upmix",
    max_repeat: float = 100.0,
) -> DataFrame:
    """Rebalance a corpus to a target stratum mix WITH up-sampling:
    scarce strata are repeated (epochs > 1) and abundant ones
    down-sampled so the output hits the target proportions at a fixed
    ``total`` size — the trainer-mix recipe where low-resource
    sources genuinely repeat (multilingual pretraining keeps
    low-resource languages at >1 epoch; :func:`rebalance_mix` and
    :func:`temperature_rebalance` deliberately never up-sample, which
    caps their output at the scarcest stratum).

    Derivation: shares normalize to ``share_s = p_s / Σp``; desired
    count ``d_s = share_s × total`` (``total`` defaults to the
    current size of the targeted strata — reshape at constant
    volume); repeat factor ``f_s = d_s / n_s``.  Every row emits
    ``floor(f_s)`` whole copies, plus one extra copy when its salted
    md5 bucket falls below ``frac(f_s) × buckets`` — the same
    content-addressed contract as every sampler here, so the
    materialized mix is stable across runs, partitionings, engines,
    and dataset versions.  Output = input columns + ``copy_idx``
    (1-based epoch index; trainers shuffle copies apart via
    ``epoch_shuffle``).  Strata absent from ``target`` are dropped
    (deliberate: the target IS the output recipe); the REVERSE —
    a ``target`` stratum with no rows in ``df`` — raises, because
    silently skipping it would miss the requested proportions with
    no renormalization and no error.

    ``max_repeat`` refuses silently exploding output (a 0.99 share
    pointed at a 10-row stratum): checked against the ``#strata``-row
    rate relation — one parameter-bounded driver action, same class
    as ``dsir_log_weights``' scalar totals.

    Scale shape: one stratum-column-only count aggregate whose
    #strata-row factor relation is collected once (bounded) and
    re-embedded as a literal broadcast frame — so the counting scan
    never re-runs at materialization — then
    ``explode(sequence(1, n_copies))`` pipelined into the one
    full-width scan.  Row multiplication is the POINT; nothing
    corpus-sized ever shuffles.
    """
    if not target:
        raise ValueError("target must name at least one stratum")
    for name, p in target.items():
        if p <= 0.0:
            raise ValueError(f"target share for {name!r} must be > 0, got {p}")
    if total is not None and total <= 0:
        raise ValueError(f"total must be > 0, got {total}")
    psum = sum(v for _, v in sorted(target.items()))
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v) / psum) for k, v in sorted(target.items())],
        f"{stratum_col} string, share double",
    )
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    everything = Window.partitionBy()  # #strata rows — tiny by contract
    joined = counts.join(F.broadcast(tgt), stratum_col)
    t_expr = (
        F.lit(float(total))
        if total is not None
        else F.sum("n").over(everything)
    )
    # The factor relation is #strata rows — collect it ONCE
    # (parameter-bounded driver action, same class as
    # ``dsir_log_weights``' scalar totals): the guard needs the max
    # anyway, and re-embedding the collected factors as a literal
    # frame means the counting scan never re-runs when the result
    # materializes.
    frows = joined.select(
        stratum_col,
        (F.col("share") * t_expr / F.col("n")).alias("f"),
    ).collect()
    # A requested stratum with ZERO rows in df cannot be up-sampled
    # from nothing — and silently dropping it would skew the output
    # mix away from every other share without renormalizing (the
    # round-10 advisor's find: a typo'd stratum name just vanished,
    # and max_repeat could not catch it because the missing stratum
    # never produced a factor row).  Fail loudly instead.
    absent = sorted(set(target) - {r[stratum_col] for r in frows})
    if absent:
        raise ValueError(
            f"target strata {absent} have no rows in df (typo'd name, "
            "or the stratum is genuinely empty) — remove them from "
            "`target` or fix the stratum values; proceeding would "
            "silently miss the requested mix"
        )
    if frows:
        f_max = max(r["f"] for r in frows)
        if f_max > max_repeat:
            raise ValueError(
                f"repeat factor {f_max:.1f} exceeds max_repeat="
                f"{max_repeat} — a target share is pointed at a stratum "
                "too scarce to up-sample sanely; raise max_repeat to "
                "force it"
            )
    factors = spark.createDataFrame(
        [(r[stratum_col], float(r["f"])) for r in frows],
        f"{stratum_col} string, f double",
    )
    bucket = _salted_bucket(text_col, buckets, salt)
    n_copies = (
        F.floor(F.col("f")).cast("long")
        + F.when(bucket < (F.col("f") - F.floor(F.col("f"))) * buckets, 1)
        .otherwise(0)
    )
    return (
        df.join(F.broadcast(factors), stratum_col)
        .withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") >= 1)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1).cast("long"), F.col("_n_copies"))))
        .drop("f", "_n_copies")
    )


def temperature_rebalance(
    df: DataFrame,
    alpha: float,
    stratum_col: str = "source",
    text_col: str = "text",
    buckets: int = 10_000,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based corpus rebalancing: down-sample strata toward
    target shares ``p_s ∝ n_s^alpha`` — the exponential-smoothing mix
    from the multilingual-pretraining literature (``alpha≈0.3`` lifts
    low-resource languages; ``alpha=0`` → uniform shares; ``alpha=1``
    → natural proportions, keep everything).

    Substituting ``p_s ∝ n_s^alpha`` into :func:`rebalance_mix`'s
    no-up-sampling rate derivation (``T = min_t n_t/p_t``,
    ``rate_s = p_s·T/n_s``) collapses — the normalizer cancels — to
    the closed form::

        rate_s = min_t(n_t^(1-alpha)) / n_s^(1-alpha)

    so for ``alpha < 1`` the smallest stratum is kept fully and larger
    strata shrink toward the flattened distribution.  The keep
    decision reuses the salted-md5 bucket (content-addressed: stable
    across runs, partitionings, engines).  Scale shape = t13's: ONE
    stratum-column-only count aggregate (#strata output rows), the
    min as an unpartitioned window over that tiny relation, a
    broadcast join of the rates onto the corpus — the full-width scan
    happens exactly once and the filter pipelines into it.  The rate
    arithmetic is ``POWER(min_n/n, 1-alpha)`` in one fixed op order,
    mirrored verbatim by the DuckDB oracle in tests.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    everything = Window.partitionBy()  # #strata rows — tiny by contract
    rates = counts.select(
        stratum_col,
        F.pow(
            F.min("n").over(everything) / F.col("n"), F.lit(1.0 - alpha)
        ).alias("keep_rate"),
    )
    bucket = _salted_bucket(text_col, buckets, salt)
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(bucket < F.col("keep_rate") * buckets)
        .drop("keep_rate")
    )


def heavy_hitter_ngrams(
    df: DataFrame,
    threshold_count: int,
    n: int = 3,
    k_capacity: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """EXACT corpus frequencies of every word ``n``-gram occurring at
    least ``threshold_count`` times — boilerplate/banner discovery —
    without the vocabulary-wide shuffle of a full
    ``groupBy(gram).count()``.  At web scale the distinct-gram
    vocabulary is corpus-sized (most grams are singletons), so the
    exact aggregate shuffles ~the corpus; heavy hitters are the rare
    survivors.  Two phases instead:

    1. **Misra–Gries candidate summaries**, one per input partition
       (Arrow ``mapInPandas``: each batch is counted exactly with a
       ``Counter`` and merged into the running summary; when the merge
       exceeds ``k_capacity`` entries, the (``k_capacity``+1)-th
       largest count is subtracted from every entry and non-positives
       are dropped — the mergeable-summaries MG trim of Agarwal et
       al., PODS'12, same ``N_p/k`` error bound).
       Emitted rows per partition: ≤ ``k_capacity`` candidates plus
       one total-gram-count marker (``ngram NULL``).  If a gram's
       GLOBAL count exceeds ``total/k_capacity`` it must exceed the
       per-stream bound ``N_p/k_capacity`` in at least one partition
       (else summing the per-partition bounds contradicts the global
       count), so the union of summaries is a guaranteed candidate
       superset for any ``threshold_count > total/k_capacity``.
    2. **Exact recount of candidates only**: re-scan, explode grams,
       inner-join the broadcast candidate set (≤ partitions ×
       ``k_capacity`` rows — bounded by parameters, never by data),
       ``groupBy`` + ``HAVING`` — the shuffle now carries only grams
       that survived phase 1.

    The result equals the naive full aggregate exactly (the DuckDB
    oracle in tests IS the naive form).  The guarantee precondition is
    VALIDATED, not assumed: phase 1's total is checked against
    ``threshold_count`` and a too-small ``k_capacity`` raises instead
    of silently under-reporting.  Cost: two corpus scans — the price
    of replacing a corpus-sized shuffle with a parameter-bounded one.
    """
    if threshold_count < 1:
        raise ValueError(
            f"threshold_count must be >= 1, got {threshold_count}"
        )
    if k_capacity < 1:
        raise ValueError(f"k_capacity must be >= 1, got {k_capacity}")
    from .dedup import _word_ngrams_expr

    grams = df.select(_word_ngrams_expr(text_col, n).alias("_grams"))

    def _mg_partition(batches):
        # Batched Misra–Gries (optimization round 15, guide §4.2): the
        # old per-gram Python loop paid interpreter dispatch for every
        # occurrence; this form counts each Arrow batch exactly with
        # collections.Counter (C-speed update per row array) and then
        # MERGES it into the capacity-bounded summary, trimming to
        # ``k_capacity`` entries by subtracting the (k_capacity+1)-th
        # largest count and dropping non-positives — the standard
        # mergeable-summaries MG step (Agarwal et al., PODS'12): an
        # exact batch counter is an MG summary with zero error, and a
        # merge+trim adds ≤ N_batch/(k_capacity+1) decrement, so the
        # per-stream bound stays ≤ N_p/k_capacity and every gram with
        # global count > total/k_capacity still survives in at least
        # one partition — the candidate-superset guarantee phase 2's
        # exact recount needs.  The candidate SET may differ from the
        # element-at-a-time loop's (both are supersets); the operator
        # output is identical either way because the recount is exact.
        # Memory: ≤ k_capacity + one batch's distinct grams (Arrow
        # batches are row-capped), vs the old loop's strict k_capacity.
        from collections import Counter

        counts: Counter = Counter()
        total = 0
        for pdf in batches:
            fresh: Counter = Counter()
            for arr in pdf["_grams"]:
                if arr is None:
                    continue
                total += len(arr)
                fresh.update(arr)
            counts.update(fresh)
            if len(counts) > k_capacity:
                dec = sorted(counts.values(), reverse=True)[k_capacity]
                counts = Counter(
                    {g: c - dec for g, c in counts.items() if c > dec}
                )
        out = pd.DataFrame(
            {
                "ngram": list(counts.keys()) + [None],
                "cnt": list(counts.values()) + [total],
            }
        )
        yield out

    summaries = grams.mapInPandas(
        _mg_partition, "ngram string, cnt long"
    ).localCheckpoint()
    total = (
        summaries.filter(F.col("ngram").isNull())
        .agg(F.sum("cnt").alias("t"))
        .collect()[0]["t"]
    ) or 0
    if total > 0 and threshold_count * k_capacity <= total:
        raise ValueError(
            f"threshold_count={threshold_count} is not above the MG "
            f"guarantee bound total/k_capacity = {total}/{k_capacity} "
            f"= {total / k_capacity:.1f}; raise k_capacity to at least "
            f"{total // threshold_count + 1} for a complete answer"
        )
    cand = summaries.filter(F.col("ngram").isNotNull()).select("ngram").distinct()
    return (
        df.select(F.explode(_word_ngrams_expr(text_col, n)).alias("ngram"))
        .join(F.broadcast(cand), "ngram")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold_count)
    )


def cap_per_key(
    df: DataFrame,
    key_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
    priority: Column | None = None,
    salt_partitions: int | None = 32,
) -> DataFrame:
    """Keep at most ``cap`` rows per key — the RefinedWeb/CCNet-style
    per-domain cap that stops a handful of giant hosts from dominating
    a training mix.  Survivors are the ``cap`` best rows per key under
    ``priority`` ascending (default: ``md5('cap:' || id)``, a
    content-addressed coin flip — deterministic across runs,
    partitionings, and engines, and unbiased w.r.t. document order);
    ties break on ``id_col`` so the result is a function of the data
    alone.  Rows keep their original columns.

    Scale shape — the naive single window
    (``row_number() OVER (PARTITION BY key ORDER BY pr)``) shuffles
    the WHOLE corpus by key, and per-domain corpora are exactly the
    skewed case (one host can be percents of the crawl), so that plan
    stragglers at 100 TB.  Instead, the salted two-phase top-k (same
    family as ``operators/skew.py``):

    1. partial cap over ``(salt, key)`` where ``salt = crc32(id) %
       salt_partitions`` — a balanced shuffle (a hot key spreads over
       ``salt_partitions`` reducers), each group keeps ≤ ``cap``;
    2. global cap over ``key`` on the survivors — input is now ≤
       ``salt_partitions × cap`` rows per key regardless of skew, so
       the skewed shuffle ships a bounded sliver, not the corpus.

    Phase 1 can only over-select (the global top-``cap`` per key is a
    subset of the union of per-salt top-``cap``s), so the result is
    IDENTICAL to the naive window — only the shuffle shape differs —
    and the SQL oracle can be the naive form.  ``salt_partitions=None``
    selects the naive single-window plan (useful for A/B and tests).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql import Window

    pr = (
        priority
        if priority is not None
        else F.md5(F.concat(F.lit("cap:"), F.col(id_col).cast("string")))
    ).alias("_pr")
    work = df.withColumn("_pr", pr)
    if salt_partitions is not None:
        salt = (
            F.crc32(F.col(id_col).cast("string")) % salt_partitions
        ).alias("_salt")
        w1 = Window.partitionBy("_salt", key_col).orderBy("_pr", id_col)
        work = (
            work.withColumn("_salt", salt)
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= cap)
            .drop("_salt", "_rn")
        )
    w2 = Window.partitionBy(key_col).orderBy("_pr", id_col)
    return (
        work.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= cap)
        .drop("_pr", "_rn")
    )


def repetition_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    append: bool = False,
) -> DataFrame:
    """Within-document repetition signal (Gopher-style duplicate
    n-gram fraction): 1 − distinct_ngrams / total_ngrams over word
    n-grams (default bigrams).  Boilerplate, keyboard-mash, and
    template spam score high; natural prose scores near 0.

    Only gram COUNTS are needed (never the gram strings), so the
    n-grams are built JVM-side as structs — ``arrays_zip`` of ``n``
    shifted ``slice``s of the token array, then ``array_distinct`` —
    a pure per-row map that stays entirely inside codegen, zero
    shuffle at any scale.  Struct equality is exactly space-joined-
    string equality here because whitespace tokens cannot contain
    spaces.  Measured at sf0.1: a wash vs the Arrow word-n-gram UDF
    locally (0.42–0.53 s both), but this form never ships the text
    column through Python workers — on a real cluster that saves two
    Arrow copies of the corpus bytes and keeps composed pipelines
    (p01) Python-free, which the plan audit pins.  Exact
    integer-quotient output, bit-identical across engines (pinned
    against the UDF form and the DuckDB oracle by tests).
    """
    toks = ws_tokens(text_col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(n)])
    total = m
    distinct = F.size(F.array_distinct(grams))
    outs = [
        F.when(total > 0, 1.0 - distinct / total)
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
        total.alias("n_grams"),
    ]
    if append:
        return df.select("*", *outs)
    return df.select(F.col(id_col), *outs)


# ---------------------------------------------------------------------------
# BM25 lexical retrieval
# ---------------------------------------------------------------------------

def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    quantize: "int | None" = None,
) -> DataFrame:
    """BM25 top-``k`` document retrieval for a (small) set of keyword
    queries — the lexical half of a retrieval/curation stack, next to
    the embedding ANN operators in ``similarity.py``.  Uses the
    Lucene/Robertson formulation: ``idf = ln(1 + (N - df + .5)/(df + .5))``,
    ``score = sum_t idf_t * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``,
    over lowercase whitespace tokens (repeated query terms count
    once).

    Scale shape: the corpus text is scanned exactly TWICE — once into
    the per-query-term postings ``(term, doc, tf, dl)`` and once
    text-only for the 1-row corpus stats (N, avgdl), which need every
    document's length including docs that match no query term.
    NEITHER scan shuffles corpus-sized data: the exploded token stream
    is semi-joined down to query terms map-side BEFORE the (doc, term)
    aggregation, so the postings exchange carries only collision-sized
    rows, and the stats pass is a map-side-combined global aggregate.
    (At 100 TB with recurring query batches you'd instead materialize
    the FULL postings once — ``write_bucketed_table`` on term — plus
    the stats row, and serve batches from them; this operator is the
    per-call form, where filtering before the aggregation wins.)
    Everything query-side stays broadcast: document frequency is a
    count-window over the collision-sized hits (so df never aggregates
    the whole vocabulary and never rescans the corpus), and the query
    expansion and corpus stats broadcast onto it.  Final top-k is a
    per-query window over candidate docs only.

    ``quantize=d`` makes scoring ENGINE-REPRODUCIBLE: each term's idf
    is rounded to ``d`` decimals and each (term, doc) contribution is
    rounded to an integer at ``10^d`` scale, so the per-doc score is
    an order-independent INTEGER sum — immune to float summation
    order across engines and partitionings (the remaining exposure is
    a last-ulp ``ln`` difference landing exactly on a rounding
    boundary).  ``quantize=None`` returns the raw double sum.

    Output: (query_id, rank, doc_id, score), rank 1..k per query by
    (score desc, doc_id asc).
    """
    from pyspark.sql import Window

    toks = ws_tokens(text_col, lower=True)
    docs = df.select(
        F.col(id_col).alias("_doc"), toks.alias("_toks")
    ).withColumn("_dl", F.size("_toks"))
    qterms = (
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.explode(ws_tokens(query_text_col, lower=True)).alias("_term"),
        )
        .distinct()
    )
    # The query-term semi-join runs BELOW the (doc, term) aggregation
    # (optimization round 16, guide §2.3/§2.4): the broadcast probe
    # drops non-query tokens from the exploded stream map-side, so the
    # postings shuffle carries only COLLISION-sized (doc, query-term)
    # partials instead of the corpus-sized distinct (doc, term) set —
    # the one corpus-sized exchange this operator had.  Catalyst never
    # pushes a join through an aggregate itself.  Value-identical:
    # ``_tf`` counts occurrences of the kept term only, ``_dl`` rides
    # every exploded row of the doc, and the df count-window below
    # sees exactly the same (doc, query-term) rows — pinned by
    # tests/test_operators.py::test_bm25_hits_match_post_agg_semijoin
    # plus full sf0.1 collect equality and the s05 oracle at
    # sf0.001/0.01.
    hits = (
        docs.select("_doc", "_dl", F.explode("_toks").alias("_term"))
        .join(F.broadcast(qterms.select("_term").distinct()), "_term")
        .groupBy("_doc", "_term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
    )
    # document frequency as a window over the collision-sized hits —
    # (doc, term) is unique there, so count-over-term IS df.  A
    # separate groupBy+join would recompute the corpus-sized postings
    # a second time for its other consumer; the window keeps the
    # corpus scan single.
    hits = hits.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("_term"))
    )
    # explicit sum/count, not F.avg: the integer sum is exact, so the
    # single double division is bit-identical across engines and
    # partitionings (an incremental double mean would not be).
    # Optimization round 15 (guide §1.2): this pass needs only token
    # COUNTS, so it counts maximal \S+ runs directly instead of
    # re-building the token array (split + array_remove + size) it
    # immediately discards — ``regexp_count(text, '\S+')`` equals
    # ``size(ws_tokens(...))`` exactly (a maximal non-whitespace run
    # IS a token; case never changes \s-ness, so the un-lowered text
    # gives the same count), proven by full-corpus collect equality.
    # Bench delta is ~5% (the postings pass dominates); the point is
    # the stats scan at real scale drops the per-row array build.
    dl_count = F.regexp_count(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(r"\S+")
    )
    stats = df.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum(dl_count) / F.count(F.lit(1))).alias("_avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    if quantize is not None:
        idf = F.round(idf, quantize)
    tfpart = (F.col("_tf") * (k1 + 1)) / (
        F.col("_tf")
        + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    )
    contrib = idf * tfpart
    scored = hits.crossJoin(F.broadcast(stats)).join(
        F.broadcast(qterms), "_term"
    )
    if quantize is not None:
        scale = float(10 ** quantize)
        per_doc = scored.groupBy("_qid", "_doc").agg(
            F.sum(F.round(contrib * scale).cast("long")).alias("_s_int")
        )
        per_doc = per_doc.select(
            "_qid", "_doc", (F.col("_s_int") / scale).alias("_score")
        )
    else:
        per_doc = scored.groupBy("_qid", "_doc").agg(
            F.sum(contrib).alias("_score")
        )
    w = Window.partitionBy("_qid").orderBy(
        F.col("_score").desc(), F.col("_doc").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            "rank",
            F.col("_doc").alias(id_col),
            F.col("_score").alias("score"),
        )
    )


def hashed_bucket_sums(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = "",
    lowercase: bool = True,
) -> DataFrame:
    """The sparse stage of :func:`hashed_embeddings`: per-document
    signed token-count sums as thin ``(_id, _b, _v)`` rows — one
    map-side-combined shuffle, ``min(n_tokens, dim)`` rows per doc.
    Consumers that only need a REDUCTION over the vector (e.g.
    :func:`~dfsql_spark.operators.classify.classifier_score`'s dot
    product) aggregate these rows directly and never pay for the
    dense-array assembly."""
    tok = F.explode(tokens(text_col)).alias("_tok")
    base = df.select(F.col(id_col).alias("_id"), tok).filter(
        F.length("_tok") > 0
    )
    if lowercase:
        base = base.select("_id", F.lower(F.col("_tok")).alias("_tok"))
    h = F.md5(F.concat(F.lit(salt + ":"), F.col("_tok")))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % dim).cast(
        "int"
    )
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") < 8, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    return (
        base.select("_id", bucket.alias("_b"), sign.alias("_s"))
        .groupBy("_id", "_b")
        .agg(F.sum("_s").alias("_v"))
    )


def hashed_embeddings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = "",
    lowercase: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashing ("hashing trick") document embeddings: each
    token adds ±1 to one of ``dim`` buckets, signed and bucketed by
    md5, optionally L2-normalized.  Weinberger et al. (ICML 2009) —
    the model-free way to get an ``embedding`` column out of raw text,
    so the whole similarity stack (:mod:`~dfsql_spark.operators.
    similarity`: cosine/LSH/IVF/PQ top-k, near-dup, SemDeDup, MMR)
    composes with the ``documents`` table without an external encoder.

    md5 (not xxhash64) is THE determinism contract, as in
    :func:`deterministic_split` / :func:`stratified_sample`: both
    halves live in one digest (bucket = first 8 hex chars mod dim,
    sign = 9th hex char < '8'), portable to any engine with md5 — a
    DuckDB oracle reproduces the vectors bit-for-bit.

    Scale shape: explode to (id, bucket, ±1) — 16-byte rows — then
    ONE map-side-combined groupBy (id, bucket) sums signs, and ONE
    groupBy id assembles the dense array via ``map_from_entries`` +
    ``dim`` codegen'd ``element_at`` lookups.  Shuffle volume is
    ``min(n_tokens, dim)`` rows per doc, never the text.  A roster
    left-join returns all-zero vectors for token-free docs instead of
    dropping them.  All JVM expressions — no Python in the path.
    Measured 10× scale check (sf0.1 → sf1, local[32]): 9.7× wall —
    linear, dominated by the per-token md5 (the portability contract)
    and the two combined shuffles.
    """
    sums = hashed_bucket_sums(
        df, text_col=text_col, id_col=id_col, dim=dim, salt=salt,
        lowercase=lowercase,
    )
    # the L2 norm rides the SAME aggregate as the map assembly (Σ v²
    # over the nonzero buckets — zero slots contribute nothing), so
    # normalization costs no extra pass and no interpreted
    # aggregate/transform lambda over the dense array (higher-order
    # functions evaluate outside whole-stage codegen — the repo-wide
    # rule; see fingerprint()).
    assembled = sums.groupBy("_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_v")))
        ).alias("_m"),
        F.sqrt(F.sum(F.col("_v") * F.col("_v"))).alias("_n"),
    )
    # element_at on the NULL map of a token-free doc yields NULL per
    # slot, so the coalesce makes the roster left-join produce an
    # all-zero vector with no special case.
    denom = (
        F.when(F.col("_n") > 0, F.col("_n")).otherwise(F.lit(1.0))
        if normalize
        else F.lit(1.0)
    )
    vec = F.array(
        *[
            F.coalesce(
                F.element_at(F.col("_m"), F.lit(i)) / denom, F.lit(0.0)
            )
            for i in range(dim)
        ]
    )
    roster = df.select(F.col(id_col).alias("_id"))
    return (
        roster.join(assembled, "_id", "left")
        .select(F.col("_id").alias(id_col), vec.alias("embedding"))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    target_fraction: float | None = None,
    scale: float | None = None,
    text_col: str = "text",
    buckets: int = 1_000_000,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic importance sampling: keep each row with
    probability ``min(1, weight × scale)``, content-addressed like
    :func:`stratified_sample` (md5 of the salted text decides, so a
    row's fate survives re-runs, repartitioning, and dataset
    versions).  The quality-weighted upsampling step of a data
    recipe — keep high-:func:`quality_score` docs at full rate and
    tail docs proportionally — without any RNG state.

    Exactly one of ``scale`` / ``target_fraction``:

    * ``scale`` — use as-is: p_row = clamp(weight × scale, 0, 1).
    * ``target_fraction`` — derive scale from ONE count/sum
      aggregate: ``scale = target_fraction × N / Σ weight``.  The
      realized fraction then equals ``target_fraction`` in
      expectation PROVIDED no row clips at p=1 (with clipping the
      realized fraction falls short; callers wanting exactness under
      clipping should iterate on ``scale`` — documented, not hidden).

    Scale shape: the derivation aggregate reduces to one row
    (map-side combined), broadcast back as a literal; the keep
    decision is a pure per-row filter that pipelines into the scan —
    no shuffle, no sampling state, binomial variance.  Negative
    weights are rejected up front (one validation pass piggybacks on
    the same aggregate — no extra scan).  NULL weights behave as
    SQL filters do: the comparison is NULL, so the row is dropped
    (same as weight 0).

    Output: the surviving subset of ``df``, schema unchanged.
    """
    if (scale is None) == (target_fraction is None):
        raise ValueError("pass exactly one of scale / target_fraction")
    w = F.col(weight_col).cast("double")
    if scale is None:
        if not 0.0 <= target_fraction <= 1.0:
            raise ValueError(
                f"target_fraction must be in [0, 1], got {target_fraction}"
            )
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(w).alias("s"),
            F.min(w).alias("mn"),
        ).collect()[0]
        if agg["mn"] is not None and agg["mn"] < 0:
            raise ValueError(f"negative weight found: {agg['mn']}")
        if not agg["s"]:
            return df.filter(F.lit(False))
        scale = target_fraction * agg["n"] / agg["s"]
    bucket = _salted_bucket(text_col, buckets, salt)
    p = F.least(F.greatest(w * F.lit(float(scale)), F.lit(0.0)), F.lit(1.0))
    return df.filter(bucket < p * buckets)


def _lower_tokens(text_col: str) -> Column:
    """Lowercased whitespace tokens — the :func:`lm_score` tokenizer;
    delegates to the module-wide :func:`ws_tokens` definition (DuckDB
    mirror: ``list_filter(regexp_split_to_array(coalesce(lower(text),
    ''), '\\s+'), x -> x <> '')``)."""
    return ws_tokens(text_col, lower=True)


def lm_score(
    df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    round_to: int = 6,
) -> DataFrame:
    """Bigram-LM fluency scoring with Stupid Backoff (Brants et al.,
    EMNLP 2007) — the CCNet / KenLM-style quality signal: train token
    statistics on a curated reference slice (``train_df``), score every
    document by its average per-bigram log-probability under that
    model.

    Pins the unigram table (it feeds three plan branches; the pin cuts
    6 train scans to 3).  The pin outlives the call: release it with
    :func:`~dfsql_spark.operators.dedup.release_persists` once the
    scored DataFrame is consumed, since repeated calls without a
    release accumulate cached tables.  Low scores flag boilerplate,
    gibberish, and out-of-distribution text; the score feeds
    :func:`weighted_sample` or a threshold filter.

    Semantics (deterministic, engine-portable — a DuckDB oracle
    reproduces it): tokens are lowercased whitespace tokens; for each
    adjacent pair ``(w1, w2)`` in a document::

        P(w2|w1) = count(w1 w2) / count(w1)        if the bigram was seen
                 = alpha * count(w2) / N           else (count(w2)=1 if OOV)

    and the score is ``round(avg(log10 P), round_to)`` over the doc's
    bigrams (rounded so the float survives cross-engine hashing).
    Stupid Backoff's unnormalized form is exactly why it's the
    web-scale choice: pure count ratios, no discounting state, models
    merge by adding counts.

    Scale shape: the model is TRAIN-corpus-sized (a curated slice —
    Wikipedia-sized, not crawl-sized, by construction), so the unigram
    and bigram tables broadcast; the corpus-sized exploded bigram
    stream then never shuffles — three broadcast-hash lookups ride the
    scan, and the per-doc aggregate is map-side combined down to one
    row per document before the only shuffle (explode keeps a doc's
    bigrams inside one partition).  Bigrams are built with
    ``slice``+``arrays_zip`` (codegen'd array ops), not a per-token
    window or self-join.

    Scan accounting (round-12 scan review): the corpus is read ONCE —
    ``explode_outer`` keeps bigram-free docs as a NULL-pair row, so
    the old id-roster outer join (a second corpus scan) is gone — and
    the train slice is read TWICE in full (one unigram aggregate, one
    bigram aggregate) plus a shuffle-free limit-1 token probe that
    fails fast on an empty model before anything is computed or
    persisted.  The unigram table is PINNED
    (:func:`~dfsql_spark.operators.dedup._persist`): it feeds the
    n_total aggregate and both the w1- and w2-lookup joins, each of
    which would otherwise recompute the aggregate from a fresh train
    scan (6 full scans → 3 total).

    Output: ``(id_col, n_bigrams, avg_logp)``; docs with < 2 tokens
    keep ``n_bigrams = 0`` and NULL ``avg_logp`` via the NULL-pair
    row (dropping them would make the filter step lose track of
    them).
    Measured 100× scale check (sf0.1 → 100-fold corpus, local[32],
    fixed-size train slice): 6.0× wall — strongly sub-linear; the
    broadcast lookups pipeline into the scan and fixed costs amortize.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    toks = _lower_tokens(text_col)
    n = F.size(toks)
    # greatest(n-1, 0): ws_tokens yields [] (n=0) for empty/NULL text,
    # and slice rejects a negative length — 0-/1-token docs produce no
    # bigrams either way.
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.arrays_zip(
        F.slice(toks, 1, m).alias("w1"), F.slice(toks, 2, m).alias("w2")
    )
    # a token-free model (empty/whitespace-only/misfiltered train_df)
    # would propagate a NULL n_total into every backoff branch and NULL
    # out every score downstream — fail loudly instead, BEFORE the
    # unigram aggregate is computed/persisted: explode + limit(1)
    # short-circuits without a shuffle and the error path registers no
    # persist.
    if train_df.select(F.explode(toks)).filter(F.col("col") != "").limit(1).isEmpty():
        raise ValueError("train_df has no tokens — check the train-slice filter")

    from .dedup import _persist

    uni = _persist(
        train_df.select(F.explode(toks).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    total = uni.agg(F.sum("cu").alias("n_total"))
    bi = (
        train_df.select(F.explode(bigrams).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )

    # explode_outer: a bigram-free doc (NULL/empty/1-token text) stays
    # in the stream as one NULL-pair row, so the per-doc aggregate
    # below sees every doc and no separate id-roster scan is needed
    ex = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(bigrams).alias("p")
    ).select("_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    logp = F.when(
        F.col("w1").isNull(), F.lit(None).cast("double")
    ).when(
        F.col("cb").isNotNull(),
        F.log10(F.col("cb").cast("double") / F.col("cu1")),
    ).otherwise(
        F.log10(
            F.lit(alpha)
            * F.coalesce(F.col("cu2"), F.lit(1)).cast("double")
            / F.col("n_total")
        )
    )
    # model joins are deliberately UN-hinted (same reasoning as
    # ngram_decontaminate): a curated train slice usually fits the
    # broadcast threshold and the planner broadcasts it, but a forced
    # F.broadcast would hard-fail past Spark's 8 GB broadcast limit on
    # a genuinely large model, where the shuffle-join fallback is the
    # correct plan.  Only the one-row total keeps the hint.
    scored = (
        ex.join(bi, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")),
            ["w1"],
            "left",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")),
            ["w2"],
            "left",
        )
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            # count(w1) skips the NULL-pair marker rows -> 0 for
            # bigram-free docs; avg() skips their NULL logp -> NULL
            F.count("w1").alias("n_bigrams"),
            F.round(F.avg(logp), round_to).alias("avg_logp"),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col), "n_bigrams", "avg_logp"
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    salt: str = "epoch",
    key_col: str = "shuffle_key",
) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training data:
    rows sorted by ``md5(salt:epoch:id)``.  Every epoch is a fresh,
    uniform, REPRODUCIBLE permutation — rerunning the job, resuming a
    crashed write, or regenerating epoch 3 months later yields the
    identical order, with no RNG state to checkpoint.  The same
    content-addressed contract as :func:`deterministic_split` /
    :func:`stratified_sample`, portable to any engine with md5.

    Scale shape: a global ``orderBy`` is Spark's range-partition +
    per-partition sort — the standard way to WRITE a shuffled epoch
    (downstream shard files come out in shuffled order, shard i
    wholly before shard i+1).  The order key rides along in
    ``key_col`` so a written dataset can be verified or resumed by
    key range.
    """
    key = F.md5(
        F.concat(F.lit(f"{salt}:{epoch}:"), F.col(id_col).cast("string"))
    )
    return df.withColumn(key_col, key).orderBy(key_col)


def curriculum_order(
    df: DataFrame,
    score_col: str,
    thresholds: "list[float]",
    epoch: int = 0,
    id_col: str = "doc_id",
    salt: str = "curriculum",
    stage_col: str = "stage",
    key_col: str = "order_key",
) -> DataFrame:
    """Deterministic curriculum ordering: rows sorted by (difficulty
    stage, per-epoch shuffle key) — easy documents first, shuffled
    uniformly WITHIN each stage.

    ``thresholds`` are ascending difficulty cut points over
    ``score_col``; a row's ``stage`` is the number of thresholds at or
    below its score (0 = easiest block).  At 100 TB the thresholds come
    from a quantile sketch (``percentile_approx`` — see the x02 contract
    query) so the stage assignment stays a pure broadcast-free map;
    passing them as literals here keeps the operator deterministic and
    engine-portable.  The intra-stage order is :func:`epoch_shuffle`'s
    content-addressed md5 key — re-running epoch N months later yields
    the identical order with no RNG state.

    Scale shape: stage assignment is codegen'd per-row arithmetic; the
    global ``orderBy(stage, key)`` is Spark's range-partition + sort,
    exactly the plan that writes the curriculum out in order (shard i
    wholly before shard i+1).  Rows with a NULL or NaN score sort after
    every numbered stage (stage = len(thresholds) + 1) rather than
    silently interleaving (NaN would otherwise compare greater than
    every threshold and land in the hardest real stage).  ``thresholds``
    must be STRICTLY ascending — a duplicate would double-increment its
    stage.  Measured sf0.01 → sf0.1 (10× rows, local[32]):
    0.22 s → 0.20 s — fixed overhead dominates; the per-row cost is a
    hash + comparison chain.
    """
    if any(b <= a for a, b in zip(thresholds, thresholds[1:])) or (
        sorted(thresholds) != list(thresholds)
    ):
        # strictly ascending: a duplicated threshold would silently
        # double-increment its stage, leaving an unreachable stage id
        raise ValueError(
            f"thresholds must be strictly ascending, got {thresholds}"
        )
    score = F.col(score_col)
    stage = sum(
        (score >= F.lit(t)).cast("int") for t in thresholds
    ) if thresholds else F.lit(0)
    # NaN compares greater than every literal in Spark SQL, so without
    # this guard a NaN score lands in the hardest REAL stage instead of
    # the NULL/unscored sentinel stage it belongs in.
    unscored = score.isNull() | F.isnan(score)
    stage = F.when(unscored, F.lit(len(thresholds) + 1)).otherwise(stage)
    key = F.md5(
        F.concat(F.lit(f"{salt}:{epoch}:"), F.col(id_col).cast("string"))
    )
    return (
        df.withColumn(stage_col, stage)
        .withColumn(key_col, key)
        .orderBy(stage_col, key_col)
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: "int | None" = None,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — ONE merge round
    of byte-pair-encoding tokenizer training (the highest-count pair is
    the pair BPE would merge next).  Returns ``(pair, n)``; ``top_k``
    keeps the most frequent pairs (ties broken by pair text, so the
    result is deterministic).

    Words are whitespace tokens (lowercased by default, matching the
    engine's token contract); single-character words contribute no
    pairs.  Pair extraction is a per-row generator (``transform`` over
    ``sequence``) — a higher-order function, interpreted, but it only
    RUNS once per word to emit substrings; the hot comparisons all
    happen in the codegen'd hash aggregate that follows.  Shuffle
    volume is pair-vocabulary-sized (≤ |alphabet|², thousands of rows)
    after map-side partial aggregation, no matter how large the corpus
    — the same shape as :func:`vocab_topk`.  The top-k sort runs on the
    aggregated vocabulary, not the corpus.  Measured sf0.01 → sf0.1
    (10× rows, local[32]): 0.24 s → 0.51 s — 2.1× for 10× data, the
    partial agg absorbing the rest.
    """
    words = F.explode(ws_tokens(text_col, lower=lowercase)).alias("w")
    # sequence(1, n) with n < 1 generates a DESCENDING sequence in
    # Spark, so length-1 words must be filtered out, not relied on to
    # produce an empty pair list.
    pairs = (
        df.select(words)
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    if top_k is not None:
        counts = counts.orderBy(F.col("n").desc(), F.col("pair")).limit(top_k)
    return counts


def train_bpe(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_word_types: int = 100_000,
    lowercase: bool = True,
) -> "list[tuple[str, str]]":
    """Train a byte-pair-encoding merge list (Sennrich et al., ACL
    2016) on the corpus.  Completes the tokenizer-training story
    :func:`bpe_pair_counts` starts: that operator is ONE merge round
    observed corpus-wide; this runs the full greedy loop and returns
    the ordered merge list :func:`bpe_encode` applies.

    Scale shape — the classic implementation, which is also the only
    sane one at 100 TB: BPE statistics depend on the corpus ONLY
    through the word histogram, so the single distributed pass is a
    word-count aggregate (shuffle is word-vocabulary-sized after
    map-side combine, exactly t07's shape), truncated to the
    ``max_word_types`` most frequent types (deterministic count-desc /
    word-asc tie-break) and collected — bounded driver memory by
    parameter, never corpus-sized.  The merge loop then runs
    driver-side over the histogram: per round, count symbol-pair
    frequencies weighted by word frequency, merge the max pair
    (ties broken by pair text, so training is deterministic), repeat.
    Truncation is the standard approximation: dropped singleton-tail
    types contribute negligible pair mass.

    Stops early when no pair occurs twice (merging hapax pairs would
    just memorize words).  Returns ``[(left, right), ...]`` in merge
    order.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    rows = (
        df.select(F.explode(ws_tokens(text_col, lower=lowercase)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(max_word_types)
        .collect()
    )
    vocab = {tuple(r.w): int(r.n) for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + n
        if not pair_counts:
            break
        best = max(pair_counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merged = a + b
        new_vocab: dict = {}
        for syms, n in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
        merges.append((a, b))
    return merges


def bpe_encode(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a trained BPE merge list to every document: whitespace
    words are split to characters and adjacent pairs merge greedily in
    merge-rank order (lowest rank first — the standard GPT-2-style
    apply loop), yielding ``(id, pieces array<string>, n_pieces)``
    with word order preserved.

    A pure per-row Arrow map (the merge table rides the closure /
    broadcast — KBs), zero shuffle, pipelines into the scan at any
    scale; a per-batch word cache collapses the per-type work since
    word frequency is Zipfian.  With ``merges=[]`` pieces are exactly
    the characters; concatenating a word's pieces always reproduces
    the word (pinned by tests).
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        import re as _re

        ws = _re.compile(r"\s+", _re.ASCII)
        cache: dict = {}

        def word_pieces(w: str) -> list:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w)
            while len(syms) > 1:
                best_rank = None
                best_i = -1
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            cache[w] = syms
            return syms

        out = []
        for t in texts:
            t = (t or "")
            if lowercase:
                t = t.lower()
            pieces: list = []
            for w in ws.split(t):
                if w:
                    pieces.extend(word_pieces(w))
            out.append(pieces)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _enc(F.col(text_col)).alias("pieces"),
    ).withColumn("n_pieces", F.size("pieces").cast("bigint"))


def normalize_nfc(
    df: DataFrame,
    text_col: str = "text",
    out_col: "str | None" = None,
    form: str = "NFC",
) -> DataFrame:
    """Unicode-normalize a text column (default NFC) — the standard
    first step before any hash-based dedup, so that 'é' (U+00E9) and
    'e'+COMBINING ACUTE hash identically.

    Spark SQL has no Unicode-normalization builtin, so this is an
    Arrow-batched pandas UDF over ``unicodedata.normalize`` — a pure
    per-row map (zero shuffle, pipelines into whatever scan or map
    precedes it).  The CPython normalizer is table-driven C, so the
    UDF cost is Arrow transfer, not the transform.  Output is
    bit-identical to DuckDB's ``nfc_normalize`` for ``form="NFC"``
    (pinned by tests), making NFC-normalized hashes portable across
    engines.  ``form`` accepts NFC/NFD/NFKC/NFKD.  Measured sf0.01 →
    sf0.1 (10× rows, local[32]): 0.20 s → 0.18 s — flat; Arrow
    transfer of this corpus is cheaper than the session overhead.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution — the keyboard-mash / binary-junk / single-char-spam
    detector in public curation recipes: natural English prose sits
    around 4.1–4.3 bits, degenerate repetition near 0, uniform random
    bytes near 8.

    Arrow-batched pandas UDF: one numpy bincount + vectorized
    ``p·log2 p`` per document — a pure per-row map, zero shuffle at any
    scale.  Characters are summed in CODEPOINT ORDER so the float
    reduction is deterministic across runs and partitionings; results
    round to ``round_to`` dp, and the DuckDB mirror (unnest chars →
    group → sum) agrees at that precision (the lm_score comparison
    contract).  Empty/NULL text scores NULL with n_chars 0 — there is
    no character distribution to measure, and NULL keeps it out of
    entropy-band keep-filters, matching :func:`compression_ratio`'s
    sibling policy (a 0.0 would mimic a real degenerate single-char
    document).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ent(s: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in s:
            if not t:
                out.append(None)
                continue
            # unique() sorts by codepoint → deterministic sum order
            _, counts = np.unique(np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32), return_counts=True)
            p = counts / counts.sum()
            out.append(round(float(-(p * np.log2(p)).sum()), round_to))
        return pd.Series(out, dtype="float64")

    return df.select(
        F.col(id_col),
        _ent(F.col(text_col)).alias("entropy_bits"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("n_chars"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) —
    the template-spam and boilerplate detector: highly repetitive
    documents compress far below natural prose (~0.4–0.6), random
    noise sits near 1.0.  Complements :func:`repetition_ratio` (which
    sees only exact n-gram repeats) by catching long-range and
    approximate redundancy.

    Arrow-batched pandas UDF over stdlib ``zlib`` at a FIXED level —
    deterministic for a given zlib build, a pure per-row map with zero
    shuffle.  There is no SQL-engine mirror for zlib, so this operator
    is pytest-graded by its properties (repetitive ≪ prose < noise,
    determinism, edge cases), not a DuckDB value oracle.  Empty/NULL
    text gets ratio NULL (not 0: a 0 would sort as "maximally
    compressible" in keep-filters).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cr(s: pd.Series) -> pd.Series:
        import zlib

        out = []
        for t in s:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out, dtype="float64")

    return df.select(
        F.col(id_col),
        _cr(F.col(text_col)).alias("compression_ratio"),
        F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias("n_bytes"),
    )


# Mojibake detector families, shared verbatim with the DuckDB test
# mirror (the pii_scrub constant-export pattern).  UTF-8 text decoded
# as Latin-1/cp1252 leaves fingerprints no clean text contains:
#   * U+00C3 ("Ã") followed by a byte-range char — every 2-byte UTF-8
#     sequence for U+00C0–U+00FF (é, ü, ñ, …) mis-decodes to this pair;
#   * U+00E2 U+20AC ("â€") — the E2 80 xx lead of the curly-quote /
#     dash / ellipsis family read as cp1252;
#   * U+00C2 ("Â") before NBSP-range punctuation — the C2 A0 artifact;
#   * U+FFFD — the replacement character a lossy decode inserts;
#   * raw C1 controls U+0080–U+009F — Latin-1 decodes of continuation
#     bytes cp1252 leaves unmapped.
# The trailer class = U+0080–U+00BF plus the cp1252 remaps of
# 0x80–0x9F (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ).
_CP1252_REMAP = (
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160"
    "\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"
)
MOJIBAKE_RE = (
    "(?:\u00c3[\u0080-\u00bf" + _CP1252_REMAP + "]"
    "|\u00e2\u20ac"
    "|\u00c2[\u00a0-\u00bf]"
    "|\ufffd"
    "|[\u0080-\u009f])"
)


def mojibake_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encoding-corruption score — the CCNet/RefinedWeb-class filter
    signal for crawl text that went through a wrong-charset decode
    (UTF-8 read as Latin-1/cp1252: "Ã©" for é, "â€™" for ', the
    U+FFFD replacement character, raw C1 controls).  Mojibake survives
    language-ID and quality heuristics (the words are still there) but
    poisons tokenizers and dedup hashes, so corpora filter or re-decode
    on exactly these fingerprints.

    Counts non-overlapping :data:`MOJIBAKE_RE` matches (each match is
    one corruption site, the two-char families counted once, not per
    char).  Output: ``(id, n_chars, n_mojibake, mojibake_frac,
    has_replacement)`` — ``mojibake_frac`` = sites over characters
    (0.0 for empty/NULL text: no evidence is not corruption), and
    ``has_replacement`` flags U+FFFD specifically (proof of a LOSSY
    decode, the strongest single signal).  Thresholding is the
    caller's policy (corpus studies use frac > ~0.001 or any
    replacement char); the fraction composes with
    :func:`quality_score` / :func:`c4_filters` as one more per-row
    gate.

    Division of labor vs :func:`encoding_signals` (the ingestion-time
    decode-health gate): that operator owns the U+FFFD FRACTION, C0
    controls, and null bytes; THIS operator owns the wrong-charset
    fingerprint families (the A-tilde pairs, the cp1252 curly-quote
    lead, C2/NBSP artifacts, C1 controls) that a SUCCESSFUL but wrong
    decode leaves behind — no U+FFFD, nothing for encoding_signals to
    see.  ``has_replacement`` repeats the single U+FFFD fact (boolean,
    not a fraction) so this card alone can drive a mojibake gate; a
    policy change to replacement-char handling belongs in
    encoding_signals first.

    Detection only, by design: repair ("demojibake") needs an
    iterative re-encode/decode search (the ftfy algorithm) that can
    misfire on legitimately mixed text — flag here, route flagged docs
    to a re-decode of the ORIGINAL bytes upstream.

    Pure zero-shuffle codegen map (``regexp_count`` + ``length``),
    pipelines into the scan at any corpus scale; DuckDB reproduces
    every count from the same exported pattern.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_moji = F.regexp_count(t, F.lit(MOJIBAKE_RE))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_moji.alias("n_mojibake"),
        F.when(n_chars > 0, n_moji.cast("double") / n_chars)
        .otherwise(F.lit(0.0))
        .alias("mojibake_frac"),
        t.contains("\ufffd").alias("has_replacement"),
    )


def blocklist_filter(
    df: DataFrame,
    words: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
    append: bool = False,
) -> DataFrame:
    """C4's bad-words blocklist step: count token hits against a
    blocklist and keep documents with at most ``max_hits`` (C4 drops a
    page on a single hit — the default).

    ``append=True`` returns the INPUT rows plus ``n_blocklist_hits``
    and ``keep_blocklist`` instead of the thin report — zero-join
    fusion with the other per-row gates (one scan for the whole
    front-end, no doc_id re-shuffles).

    Matching: :func:`ws_tokens`, lowercased, with leading/trailing
    non-alphanumerics stripped per token, so ``Word.`` and ``(word)``
    hit ``word``; multi-word blocklist phrases are NOT supported
    (single tokens only — a documented simplification of the public
    C4 recipe).  The blocklist ships inside the plan as an array
    literal (these lists are hundreds to a few thousand words): the
    whole filter is a zero-shuffle per-row map at any corpus scale.

    Returns ``(id, n_blocklist_hits, keep_doc)``.
    """
    if not words:
        raise ValueError("words must be non-empty")
    # DELIBERATELY the higher-order-function form (re-adjudicated in
    # optimization round 16).  A single anchored-alternation
    # ``regexp_count`` over the lowered text IS 1.7-1.9× faster on
    # this expression in isolation (measured at sf0.1 on 1-word and
    # 204-word lists, values identical — the rewrite exists in git
    # history with its edge-parity pin,
    # test_blocklist_filter_regexp_edge_parity, which still guards
    # these token semantics).  But in the operator's PRIMARY
    # composition — the fused crawl gate, where a downstream filter
    # references ``keep_blocklist & keep_gopher & script`` — removing
    # this last CodegenFallback lambda flips the gate's Filter into
    # whole-stage codegen, and a codegen Filter evaluates each
    # conjunct WITHOUT cross-conjunct subexpression elimination: the
    # script/gopher signal subtrees (the token split, six
    # regexp_replace length-diffs referenced ~8× each by the
    # dominant-script CASE chain) are re-generated per conjunct and
    # re-evaluated per row.  Measured on the full gate at sf0.1,
    # interleaved: HOF form 1.73-1.98 s, regexp form 4.65-4.80 s
    # (2.7× REGRESSION; per-conjunct bisect: +2.3 s on the gopher
    # predicate, +3.1 s on the script predicate, the blocklist term
    # itself cheap in both).  The interpreted fallback this lambda
    # forces keeps the one-evaluation-with-CSE shape at every scale;
    # revisit only together with a composition-level fix for
    # filter-over-derived-signal pushdown.
    marker = F.array(*[F.lit(w.lower()) for w in sorted(set(words))])
    norm = F.transform(
        ws_tokens(text_col, lower=True),
        lambda t: F.regexp_replace(t, "^[^a-z0-9]+|[^a-z0-9]+$", ""),
    )
    hits = F.size(F.filter(norm, lambda t: F.array_contains(marker, t)))
    if append:
        return df.withColumns(
            {"n_blocklist_hits": hits, "keep_blocklist": hits <= max_hits}
        )
    return df.select(
        F.col(id_col),
        hits.alias("n_blocklist_hits"),
        (hits <= max_hits).alias("keep_doc"),
    )


def c4_line_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
) -> DataFrame:
    """C4's LINE-level cleaning (Raffel et al. 2020, public recipe):
    keep only lines that end in terminal punctuation (``.!?"'`` after
    trailing whitespace), contain at least ``min_words`` whitespace
    tokens, and do not mention ``javascript`` (case-insensitive
    substring — C4's rule).  Document-level rules live in
    :func:`c4_filters`/:func:`blocklist_filter`; line-level DEDUP is
    ``dedup.remove_duplicate_lines``.

    Pure zero-shuffle codegen map: split on newline, filter with
    array higher-order functions, re-join.  Returns
    ``(id, n_lines_in, n_lines_kept, cleaned_text)``; NULL text stays
    NULL (with 0/0 counts), a document whose every line fails cleans
    to the empty string.
    """
    raw = F.col(text_col)
    lines = F.split(raw, "\n")
    words_per_line = lambda l: F.size(  # noqa: E731
        F.array_remove(F.split(F.trim(l), r"\s+"), "")
    )
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike("[.!?\"']$")
        & (words_per_line(l) >= min_words)
        & ~F.lower(l).contains("javascript"),
    )
    # size(NULL) is -1 with legacy sizeOfNull; gate on the text instead
    return df.select(
        F.col(id_col),
        F.when(raw.isNull(), F.lit(0)).otherwise(F.size(lines)).alias("n_lines_in"),
        F.when(raw.isNull(), F.lit(0)).otherwise(F.size(kept)).alias("n_lines_kept"),
        F.when(raw.isNotNull(), F.array_join(kept, "\n")).alias("cleaned_text"),
    )


# The Gopher rule's stop-word presence set (Rae et al. 2021 §A1.1:
# "contains at least two of the following English words").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    append: bool = False,
) -> DataFrame:
    """Gopher's document-quality rule set (Rae et al. 2021, Table A1 —
    the public recipe), complementing :func:`c4_filters`:

    * word count in [min_words, max_words], mean word length in
      [min_mean_word_len, max_mean_word_len]
    * symbol-to-word ratio (``#`` or ``...`` occurrences / words)
      <= max_symbol_ratio
    * < max_bullet_frac of lines starting with a bullet marker and
      < max_ellipsis_frac of lines ending with an ellipsis
    * >= min_alpha_word_frac of words contain an alphabetic character
    * >= min_stopword_hits distinct hits from the 8-word English
      stop set (``GOPHER_STOPWORDS``)

    All signals are codegen'd integer-count quotients over one scan —
    a zero-shuffle per-row map, bit-identical across engines.
    Returns the per-signal columns plus the combined ``keep_doc``.
    NULL text is treated as empty (0 words -> NULL ratios,
    ``keep_doc`` false) rather than leaking size(NULL) = -1 artifacts
    into the report columns.  ``append=True`` returns the input rows
    plus ``keep_gopher`` only — the zero-join fusion form.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    # Optimization round 15 (guide §1.2 per-task work): every per-line
    # and per-token signal below used an interpreted higher-order
    # ``filter(..., rlike)`` lambda (plus a ``transform(toks, lower)``
    # for the stop set) — no whole-stage codegen, one regex machine
    # dispatch per ELEMENT.  Each is now a single codegen'd
    # ``regexp_count`` over the raw text (or a split of the
    # pre-lowered text), proven exactly line/token-equivalent to the
    # old per-element form — 4,234-doc adversarial fuzz (\r, LS,
    # NEL, "....", bullet-at-EOL, final-sigma, dotted-İ) plus full
    # sf0.1 collect equality, both zero-mismatch.  Equivalence notes:
    #
    # * tokens(lower(raw)) == transform(tokens(raw), lower): Unicode
    #   lowercasing never maps a char across the \s boundary, and the
    #   final-sigma conditional context never crosses whitespace.
    # * ``(?d)`` (UNIX_LINES) makes ``^``/``$`` recognise only \n —
    #   exactly the boundaries ``split(raw, '\n')`` produced; without
    #   it multiline ^ also fires after \r/LS/NEL mid-line.
    # * bullet: ``ltrim`` strips spaces only, so the per-line anchor
    #   is ``^ *``; the trailing class is \s MINUS \n ([^\S\n]) so a
    #   bare "-" before a newline does not match (the old per-line
    #   string had no following char there).
    # * ellipsis: Java's default-mode ``$`` also matches before ONE
    #   final line terminator, so a line "...\r" matched; the rewrite
    #   encodes that as an optional [\r NEL LS PS] before the
    #   rtrim-stripped spaces.
    # * alpha: one non-overlapping ``\S*[A-Za-z]\S*`` match per
    #   letter-bearing maximal \S+ run — greedy \S* cannot cross
    #   whitespace, so match count == letter-bearing token count.
    low_toks = ws_tokens(text_col, lower=True)
    n_words = F.size(low_toks)
    mean_word_len = F.length(F.regexp_replace(raw, r"\s+", "")) / n_words

    # occurrences of '#' plus occurrences of '...' (each "…" analog
    # counted once per literal three-dot run, as published)
    n_hash = F.length(raw) - F.length(F.regexp_replace(raw, "#", ""))
    n_ellipsis = (
        F.length(raw) - F.length(F.regexp_replace(raw, r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis) / n_words

    # split('\n', limit=-1) keeps trailing empties, so its size is
    # exactly newline-count + 1 — no line array needed
    n_lines = F.length(raw) - F.length(F.translate(raw, "\n", "")) + F.lit(1)
    bullet_lines = F.regexp_count(raw, F.lit(r"(?dm)^ *[*•‣▪-][^\S\n]"))
    ellipsis_lines = F.regexp_count(
        raw,
        F.lit("(?dm)(\\.\\.\\.|\u2026)[\r\u0085\u2028\u2029]? *$"),
    )
    alpha_words = F.regexp_count(raw, F.lit(r"\S*[A-Za-z]\S*"))
    # distinct stop-set hits via array_intersect (optimization round
    # 15, guide §1.2 per-task work): the old
    # ``filter(stop_set, w -> array_contains(low, w))`` re-scanned the
    # whole lowercased token array once PER stopword (8×), and the
    # interpreted lambda re-evaluated its captured ``low`` transform
    # per element — measured 1.0-1.2 s per corpus pass at sf0.1 vs
    # 0.29-0.40 s for one intersect pass (values identical on the full
    # corpus: the stop set is already distinct, so the intersect size
    # IS the distinct-hit count; verified by collect equality and the
    # t24 oracle mirror).
    stop_hits = F.size(
        F.array_intersect(
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]), low_toks
        )
    )

    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & ((bullet_lines / n_lines) <= max_bullet_frac)
        & ((ellipsis_lines / n_lines) <= max_ellipsis_frac)
        & ((alpha_words / n_words) >= min_alpha_word_frac)
        & (stop_hits >= min_stopword_hits)
    )
    if append:
        # zero-join fusion form: input rows + the decision only
        return df.withColumn("keep_gopher", F.coalesce(keep, F.lit(False)))
    return df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        (bullet_lines / n_lines).alias("bullet_line_frac"),
        (ellipsis_lines / n_lines).alias("ellipsis_line_frac"),
        (alpha_words / n_words).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("stopword_hits"),
        F.coalesce(keep, F.lit(False)).alias("keep_doc"),
    )


def duplicate_text_fractions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher's within-document repetition signals (Rae et al. 2021
    Table A1): the fraction of lines / paragraphs that duplicate an
    earlier one, and the fraction of characters inside those duplicate
    occurrences (occurrences beyond the first count as duplicates).
    The n-gram analog lives in :func:`repetition_ratio`.

    Scale shape: ONE corpus scan — both unit kinds posexplode from the
    plain concat of the two split arrays, the kind derived from the
    position and the non-blank filter applied post-explode, all
    codegen (the round-15 form tagged each unit via interpreted
    ``filter``/``transform`` higher-order lambdas; the two-pass
    per-kind alternative reads the corpus TWICE, which dominates at
    real scale, so the single-scan plan stays pinned; repo rule: keep
    the plan that is right at 100 TB) — then counts per
    ``(doc, kind, xxhash64(unit))`` (the shuffle ships 8-byte unit
    hashes plus lengths, never the unit text), one map-side-combined
    per-doc aggregate with kind-conditional sums, and one roster left
    join.  A unit is non-blank when it contains any non-whitespace
    character (trim() strips only spaces, so it is not the right
    test here); blank-only and NULL documents report NULL fractions
    (no units).
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))

    # Codegen'd tagging (optimization round 16, guide §4.1 — built-ins
    # over per-element lambdas): the old form ran TWO interpreted
    # higher-order lambdas per unit kind — ``filter(arr, u ->
    # u.rlike('\S'))`` plus a ``transform`` allocating a (kind, unit)
    # struct per element — over the full corpus.  posexplode over the
    # plain concat carries provenance as the POSITION instead (the
    # first ``size(_lines)`` elements of the concat ARE the line
    # units), and the non-blank filter runs as a codegen'd post-explode
    # ``rlike``.  Same surviving units with the same kind tags —
    # blank/NULL docs still emit no rows and report NULL fractions via
    # the roster left join — pinned by
    # tests/test_operators.py::test_duplicate_text_fractions_posexplode_matches_hof_reference.
    # The two-step select keeps each split computed once
    # (CollapseProject won't inline an alias referenced twice).
    arrs = df.select(
        F.col(id_col),
        F.split(raw, "\n").alias("_lines"),
        F.split(raw, r"\n{2,}").alias("_paras"),
    )
    ex = (
        arrs.select(
            id_col,
            F.size("_lines").alias("_nl"),
            F.posexplode(F.concat("_lines", "_paras")).alias("_p", "_u"),
        )
        .filter(F.col("_u").rlike(r"\S"))
        .select(
            id_col,
            F.when(F.col("_p") < F.col("_nl"), F.lit("line"))
            .otherwise(F.lit("para"))
            .alias("_k"),
            F.xxhash64("_u").alias("_h"),
            F.length("_u").alias("_ln"),
        )
    )
    per_unit = ex.groupBy(id_col, "_k", "_h").agg(
        F.count(F.lit(1)).alias("n"), F.first("_ln").alias("ln")
    )

    def kind_fracs(kind: str, frac: str, char_frac: str) -> list:
        # conditional per-kind sums in ONE per-doc aggregate — no
        # intermediate (doc, kind) level, no pivot exchange; a kind
        # with no units divides 0/0 -> NULL, the documented contract
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

    wide = per_unit.groupBy(id_col).agg(
        *kind_fracs("line", "dup_line_frac", "dup_line_char_frac"),
        *kind_fracs("para", "dup_para_frac", "dup_para_char_frac"),
    )
    return df.select(F.col(id_col)).join(wide, on=id_col, how="left")


# Explicit code-point ranges (not \p{script=...} classes: Java and RE2
# name scripts differently, and plain ranges behave identically in
# Spark, DuckDB, and Python).  Deliberately the major blocks only —
# a curation signal, not a Unicode census.
SCRIPT_BLOCKS = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "devanagari": "ऀ-ॿ",
    "cjk": "一-鿿぀-ヿ가-힯",
}


def script_fractions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    append: bool = False,
) -> DataFrame:
    """Per-document character fractions by writing script (major
    Unicode blocks), plus the dominant script — the
    wrong-language/mojibake detector that runs before any model-based
    language ID.  Fractions are over LETTER characters only (the
    union of the tracked blocks), so punctuation-heavy docs aren't
    diluted; a document with no letters reports NULL fractions and
    ``script='none'``.

    One codegen'd ``regexp_replace`` length-difference per block —
    a zero-shuffle per-row map at any scale.  ``append=True`` returns
    the input rows plus ``script`` only — the zero-join fusion form.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    n_letters = sum(
        (
            F.length(raw)
            - F.length(F.regexp_replace(raw, f"[{rng}]", ""))
            for rng in SCRIPT_BLOCKS.values()
        ),
        F.lit(0),
    )
    counts = {
        name: F.length(raw) - F.length(F.regexp_replace(raw, f"[{rng}]", ""))
        for name, rng in SCRIPT_BLOCKS.items()
    }
    fracs = [
        F.when(n_letters > 0, counts[name] / n_letters).alias(f"frac_{name}")
        for name in SCRIPT_BLOCKS
    ]
    best = F.greatest(*counts.values())
    dominant = F.lit("none")
    for name in reversed(sorted(SCRIPT_BLOCKS)):  # alphabetical tie-break
        dominant = F.when(
            (counts[name] == best) & (best > 0), F.lit(name)
        ).otherwise(dominant)
    if append:
        return df.withColumn("script", dominant)
    return df.select(F.col(id_col), *fracs, dominant.alias("script"))


def dsir_log_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    buckets: int = 8192,
    smoothing: float = 1.0,
    salt: str = "dsir",
    quantize: "int | None" = None,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., NeurIPS 2023): score
    every raw-corpus document by ``log p_target(doc) − log p_raw(doc)``
    under bag-of-hashed-n-gram models of a small target corpus vs the
    raw corpus — the published data-selection recipe; feed the result
    (shifted/clamped to a rate) into :func:`weighted_sample` to
    materialize the selection.

    Determinism contract: grams are the shared ASCII-whitespace word
    n-grams (``dedup._word_ngrams_expr``, case-sensitive) and buckets
    are md5-addressed exactly like :func:`deterministic_split`'s
    oracle form, so a DuckDB mirror reproduces every weight.

    Scale shape: both corpora explode to (id, gram-bucket) — the
    bucket-count tables are at most ``buckets`` rows, so the per-side
    model is one map-side-combined aggregate; the weight table
    (<= ``buckets`` rows, parameter-bounded) broadcasts into the
    scoring join, then one per-doc sum.  Two scalar driver aggregates
    fetch the gram totals (bounded — same class as ``train_bpe``'s
    parameter-bounded collect).  The raw corpus is gram-exploded
    twice (model pass + scoring pass), exactly the published
    two-pass structure; persist the input upstream to pay the scan
    once.  Docs with no grams score 0.0 via a roster left join.

    ``quantize=d`` rounds each bucket weight to ``d`` decimals and
    sums it as a scaled integer, so the per-doc total is
    order-independent and bit-identical across engines (the same
    trick as ``bm25_topk``'s ``quantize`` — a double sum of ln-ratios
    is accumulation-order-dependent, which a driver value-hash can't
    tolerate); ``log_weight`` is then the exact integer total divided
    once by ``10^d``.  Default ``None`` keeps full-precision doubles.

    Pins the two bucket-count model tables (target and raw, each
    ≤ ``buckets`` rows) with
    :func:`~dfsql_spark.operators.dedup._persist`, which keeps lineage,
    so an executor loss stays recoverable.  The pins outlive the call:
    release them with
    :func:`~dfsql_spark.operators.dedup.release_persists` once the
    weights are consumed.
    """
    from .dedup import _word_ngrams_expr

    def bucketed(frame: DataFrame) -> DataFrame:
        g = F.explode(_word_ngrams_expr(text_col, n)).alias("_g")
        h = F.md5(F.concat(F.lit(salt + ":"), F.col("_g")))
        b = (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets
        ).cast("int")
        return frame.select(F.col(id_col).alias("_id"), g).select(
            "_id", b.alias("_b")
        )

    raw_b = bucketed(df)
    # Materialize both bucket-count tables (≤ ``buckets`` rows each —
    # parameter-bounded, never data-sized).  Without this the RAW
    # corpus is gram-exploded THREE times — once for the ``r_total``
    # driver aggregate, once more when the weight table recomputes
    # ``raw_counts``, and once for the scoring pass — and the target
    # twice (optimization round 15, guide §1.2/§2.4: remove whole
    # passes first).  Materializing pins each model table after ONE
    # explode+aggregate; the totals and the weight join then read the
    # materialized rows, restoring the published two-pass structure
    # (model pass + scoring pass) over the raw corpus and one pass
    # over the target.  Values are unchanged (same aggregates, read
    # once instead of recomputed).
    from .dedup import _persist

    tgt_counts = _persist(
        bucketed(target).groupBy("_b").agg(F.count(F.lit(1)).alias("_ct"))
    )
    raw_counts = _persist(
        raw_b.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
    )
    t_total = tgt_counts.agg(F.sum("_ct")).first()[0] or 0
    r_total = raw_counts.agg(F.sum("_cr")).first()[0] or 0
    denom_t = float(t_total) + smoothing * buckets
    denom_r = float(r_total) + smoothing * buckets
    # weight per RAW bucket (buckets seen only in the target are never
    # queried); <= `buckets` rows — a parameter-bounded broadcast
    w_expr = F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)) + smoothing) / denom_t
    ) - F.log((F.col("_cr") + smoothing) / denom_r)
    if quantize is not None:
        # scaled-integer weight: exact, order-independent per-doc sum
        scale = float(10**quantize)
        w_expr = F.round(w_expr * scale).cast("bigint")
    w = raw_counts.join(tgt_counts, "_b", "left").select("_b", w_expr.alias("_w"))
    total = F.sum("_w")
    if quantize is not None:
        total = total.cast("double") / float(10**quantize)
    scored = (
        raw_b.join(F.broadcast(w), "_b")
        .groupBy("_id")
        .agg(
            total.alias("log_weight"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        )
    )


def ngram_repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: "tuple[int, ...]" = (2, 3, 4),
    dup_ns: "tuple[int, ...]" = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher's word-n-gram repetition signals (Rae et al. 2021 Table
    A1), completing the rule set next to :func:`duplicate_text_fractions`
    (line/paragraph level) and :func:`repetition_ratio` (distinct/total):

    * ``top{n}_gram_char_frac`` (n in ``top_ns``): fraction of content
      characters covered by the single MOST FREQUENT word n-gram —
      ``count * char_len(gram) / doc_chars``.  Ties on count break to
      the longer gram (lexicographic ``max(struct(count, len))``), a
      deterministic rule both engines share.
    * ``dup{n}_gram_char_frac`` (n in ``dup_ns``): fraction of content
      characters covered by n-grams occurring more than once, ALL
      occurrences counted — ``sum(count*len | count>1) / doc_chars``.
      Deliberate, documented simplification vs. the char-mask variants
      (e.g. DataTrove's GopherRepetitionFilter) that collapse
      overlapping spans: overlap-counting is order-free, so it stays a
      pure count aggregate and is reproducible in ANSI SQL; fractions
      may exceed 1 on pathological mash (callers threshold, so only
      the order statistics matter, and those agree).

    Definitions: tokens are :func:`ws_tokens`; a gram's char length is
    its space-joined string length; ``doc_chars`` is the space-joined
    length of the WHOLE token list (whitespace-normalized content
    chars — the denominator Gopher measures against).  A document with
    fewer than n tokens reports NULL for that n (no grams — same
    convention as :func:`duplicate_text_fractions`); every fraction is
    an integer quotient, bit-identical across engines.

    Scale shape: ONE corpus scan — all n values explode from one
    concatenated unit array; the shuffle ships (doc, n:int,
    xxhash64(gram):int64, len:int) rows, never gram text (hash-merge
    collisions are the usual 2^-64 fine print); per-(doc,n,gram)
    counts then collapse in a SINGLE per-doc aggregate with
    n-conditional expressions — no pivot exchange, no per-n pass —
    and one roster left join brings back dropped docs.
    """
    toks = ws_tokens(text_col)

    def units_for(n: int) -> Column:
        m = F.size(toks) - (n - 1)
        idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
            F.array().cast("array<int>")
        )

        def unit(i: Column) -> Column:
            s = F.array_join(F.slice(toks, i, n), " ")
            return F.struct(
                F.lit(n).alias("n"),
                F.xxhash64(s).alias("h"),
                F.length(s).alias("ln"),
            )

        return F.transform(idx, unit)

    all_ns = sorted(set(top_ns) | set(dup_ns))
    ex = df.select(
        F.col(id_col), F.explode(F.concat(*[units_for(n) for n in all_ns])).alias("g")
    ).select(id_col, "g.n", "g.h", "g.ln")
    per_gram = ex.groupBy(id_col, "n", "h").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("ln").alias("ln")
    )

    aggs, outs = [], []
    for n in sorted(set(top_ns)):
        k = F.col("n") == n
        aggs.append(
            F.max(F.when(k, F.struct(F.col("cnt"), F.col("ln")))).alias(f"_t{n}")
        )
        outs.append(
            (
                F.col(f"_t{n}.cnt") * F.col(f"_t{n}.ln") / F.col("_dc")
            ).alias(f"top{n}_gram_char_frac")
        )
    for n in sorted(set(dup_ns)):
        k = F.col("n") == n
        aggs.append(
            F.sum(
                F.when(
                    k,
                    F.when(F.col("cnt") > 1, F.col("cnt") * F.col("ln")).otherwise(
                        F.lit(0)
                    ),
                )
            ).alias(f"_d{n}")
        )
        outs.append(
            (F.col(f"_d{n}") / F.col("_dc")).alias(f"dup{n}_gram_char_frac")
        )

    wide = per_gram.groupBy(id_col).agg(*aggs)
    roster = df.select(
        F.col(id_col), F.length(F.array_join(toks, " ")).alias("_dc")
    )
    return roster.join(wide, on=id_col, how="left").select(F.col(id_col), *outs)


def perplexity_buckets(
    df: DataFrame,
    score_col: str = "avg_logp",
    group_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    labels: "tuple[str, ...] | None" = None,
    thresholds: "dict[str, list[float]] | None" = None,
) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al.,
    LREC 2020 §4.4): split each language's documents into
    ``head``/``middle``/``tail`` terciles by LM fluency so downstream
    sampling can keep the head, subsample the middle, and drop the
    tail.  Composes directly with :func:`lm_score` — higher
    ``score_col`` = more fluent = bucket 1 (``head``); CCNet's raw
    perplexity orders the other way, so callers bucketing on
    perplexity pass its negation.

    Two paths, same output schema ``(id_col, group_col, bucket,
    bucket_label)``:

    * ``thresholds=None`` (exact): ``bucket = ntile(n_buckets)`` over
      ``PARTITION BY group ORDER BY score DESC, id`` — the id
      tie-break makes the split total-ordered and engine-portable
      (both Spark and ANSI ntile hand the remainder one row per
      leading bucket).  One window exchange on the group key; fine up
      to "each language sorts in cluster memory", which a per-language
      range-partitioned sort gives far past the graded scales, but it
      is still a corpus-wide sort.
    * ``thresholds={group: [cut1 > cut2 > ...]}`` (the 100 TB path —
      what CCNet itself ships): cutoffs computed once on a sample
      join in via a broadcast of #groups rows, and bucket assignment
      ``1 + #cuts strictly above the score`` rides the scan with NO
      shuffle at all.  Scores equal to a cut land in the better
      bucket.  Groups absent from the dict get NULL buckets (flag,
      don't guess).

    NULL scores (e.g. sub-2-token docs from :func:`lm_score`) keep
    their row with a NULL bucket on both paths: the window partitions
    on ``(group, score IS NULL)`` and masks the null slice, so no
    roster re-join is needed and scored docs never share a tile with
    unscorable ones.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if labels is None:
        labels = (
            ("head", "middle", "tail")
            if n_buckets == 3
            else tuple(f"b{i + 1}" for i in range(n_buckets))
        )
    if len(labels) != n_buckets:
        raise ValueError(f"need {n_buckets} labels, got {len(labels)}")
    score = F.col(score_col)
    if thresholds is not None:
        n_cuts = n_buckets - 1
        bad = {g: c for g, c in thresholds.items() if len(c) != n_cuts}
        if bad:
            raise ValueError(f"each group needs {n_cuts} cuts, got {bad}")
        spark = df.sparkSession
        tdf = spark.createDataFrame(
            [(g, [float(c) for c in cuts]) for g, cuts in sorted(thresholds.items())],
            schema=f"{group_col} string, _cuts array<double>",
        )
        from pyspark.sql.functions import broadcast  # #groups rows — true dim

        joined = df.join(broadcast(tdf), on=group_col, how="left")
        bucket = F.when(
            score.isNotNull() & F.col("_cuts").isNotNull(),
            F.lit(1)
            + F.aggregate(
                F.col("_cuts"),
                F.lit(0),
                lambda acc, c: acc + F.when(score < c, 1).otherwise(0),
            ),
        )
        out = joined
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(group_col, score.isNull()).orderBy(
            score.desc(), F.col(id_col)
        )
        bucket = F.when(score.isNotNull(), F.ntile(n_buckets).over(w))
        out = df
    label = F.element_at(F.array(*[F.lit(s) for s in labels]), bucket)
    return out.select(
        F.col(id_col),
        F.col(group_col),
        bucket.cast("int").alias("bucket"),
        label.alias("bucket_label"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    min_df: int = 1,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic keyword
    extraction / document-signature step (topic triage, cluster
    labeling, dedup-cluster naming) over the shared whitespace
    tokenizer (:func:`ws_tokens`, lowercased).

    Uses the sklearn smooth formulation, chosen because every piece is
    a plain relational aggregate (mirrorable bit-for-bit)::

        tf(t, d)  = count of t in d        (repeats count)
        idf(t)    = ln((1 + N) / (1 + df_t)) + 1
        score     = tf * idf

    ``min_df`` / ``max_df_frac`` drop too-rare / too-common terms
    BEFORE ranking (a term in > ``max_df_frac`` of docs is corpus
    boilerplate — IDF already down-weights it, the cutoff removes it).
    Ties rank deterministically by ``(score desc, term asc)``.

    Scale shape: explode → ``(doc, term)`` count (the one corpus-sized
    shuffle, map-side combined), MATERIALIZED (persist, the
    :func:`~dfsql_spark.operators.dedup.minhash_lsh_pairs` signature
    pattern — it feeds both the document-frequency aggregate and the
    join probe side, and without the pin each branch would recompute
    the explode+count from a fresh corpus scan; plan-verified: 3 scans
    unpinned → 1 pinned).  Document frequency is then a
    vocabulary-sized aggregate over the pinned table, joined back on
    the term key; N is a broadcast 1-row agg over the pinned table
    too.  The final per-doc window re-shuffles the filtered
    ``(doc, term)`` table by doc id.  Nothing wider than (term, two
    longs) moves after the first count.  Two tables are pinned with
    :func:`~dfsql_spark.operators.dedup._persist`: the tokenized
    ``(doc, tokens)`` projection and the ``(doc, term, tf)`` counts.
    The pins outlive the call: release them with
    :func:`~dfsql_spark.operators.dedup.release_persists` once the
    result is consumed.

    Output: ``(id_col, term, tf, df_t, score, rank)``.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    if not (0.0 < max_df_frac <= 1.0):
        raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
    from pyspark.sql.window import Window

    from .dedup import _persist

    # pin the tokenized projection FIRST: N and the (doc, term) table
    # both derive from it, so the upstream plan (which may be a whole
    # curation pipeline, not a bare scan) executes exactly once —
    # df.agg(count) on the raw input would re-run every upstream stage
    base = _persist(
        df.select(
            F.col(id_col).alias("_id"),
            ws_tokens(text_col, lower=True).alias("_ts"),
        )
    )
    tf = _persist(
        base.select("_id", F.explode("_ts").alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = base.agg(F.count(F.lit(1)).alias("_n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    w = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df_t") >= min_df)
            & (F.col("df_t") <= F.col("_n") * F.lit(max_df_frac))
        )
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log((1 + F.col("_n")) / (1 + F.col("df_t"))) + F.lit(1.0)
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("_id").alias(id_col), "term", "tf", "df_t", "score", "rank"
        )
    )


def length_histogram(
    df: DataFrame,
    text_col: str = "text",
    bucket_width: int = 64,
    unit: str = "tokens",
    stratum_col: "str | None" = None,
) -> DataFrame:
    """Fixed-width document-length histogram — the distribution you
    read before choosing a training ``max_seq_len`` / packing target
    (:func:`pack_sequences`) or a length-based quality cutoff: how
    much of the corpus truncates at 2k? how heavy is the sub-64-token
    junk tail?

    ``unit="tokens"`` counts :func:`ws_tokens`; ``"chars"`` counts raw
    characters (NULL text = 0, so every document lands in a bucket and
    the fractions sum to 1).  Bucket ``i`` covers lengths
    ``[i*bucket_width, (i+1)*bucket_width)``.  ``stratum_col``
    produces one histogram per stratum (fractions within stratum),
    NULL strata grouped together — same posture as
    :func:`corpus_report`.

    Scale shape: ONE scan into one map-side-combined groupBy on
    ``(stratum, bucket)`` — fixed-size state, shuffle carries #buckets
    x #strata rows; the within-stratum fraction is a window over that
    already-tiny table, never the corpus.

    Output: ``([stratum,] bucket, lo, hi, n_docs, frac)``, one row per
    OCCUPIED bucket (empty buckets are absent, not zero — at 100 TB
    the bucket table is sparse by design).
    """
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")
    if unit not in ("tokens", "chars"):
        raise ValueError(f"unit must be 'tokens' or 'chars', got {unit!r}")
    from pyspark.sql.window import Window

    n = (
        F.size(ws_tokens(text_col))
        if unit == "tokens"
        else F.length(F.coalesce(F.col(text_col), F.lit("")))
    )
    keys = ([F.col(stratum_col).alias("stratum")] if stratum_col else []) + [
        F.floor(n / bucket_width).cast("long").alias("bucket")
    ]
    hist = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        Window.partitionBy("stratum")
        if stratum_col
        else Window.partitionBy(F.lit(1))
    )
    return hist.select(
        *(["stratum"] if stratum_col else []),
        "bucket",
        (F.col("bucket") * bucket_width).alias("lo"),
        ((F.col("bucket") + 1) * bucket_width - 1).alias("hi"),
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(w)).alias("frac"),
    )


def encoding_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_replacement_frac: float = 0.0,
    max_control_frac: float = 0.001,
) -> DataFrame:
    """Per-document encoding-health signals — the broken-decode
    detector that runs at INGESTION, before tokenization or any
    dedup/quality stage wastes compute on mojibake: crawl pipelines
    mis-sniff charsets, and the damage shows up as U+FFFD replacement
    characters (a decoder already gave up) and raw C0 control bytes
    (binary junk pasted into text).

    Signals (all integer quotients over the raw char count, so the
    report is bit-identical across engines)::

        replacement_frac  U+FFFD chars / n_chars
        control_frac      C0 controls minus tab/LF/CR, plus DEL,
                          / n_chars
        has_null_byte     any U+0000 (the strongest binary tell)
        keep              replacement_frac <= max_replacement_frac
                          AND control_frac <= max_control_frac
                          AND NOT has_null_byte

    NULL / empty text scores 0 on both fractions and keeps (nothing
    to be broken; emptiness is :func:`c4_filters`' decision, not an
    encoding fault).  Complements :func:`script_fractions` (which
    catches wrong-script text that decoded CLEANLY) and
    :func:`mojibake_score` (which catches a WRONG-charset decode that
    succeeded — Latin-1/cp1252 fingerprints this operator's U+FFFD/C0
    signals never see; U+FFFD policy lives HERE, mojibake_score only
    mirrors the boolean).

    Scale shape: pure per-row expressions inside whole-stage codegen —
    zero shuffle, zero Python, prunes to (id, text) at the scan.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(c)
    n_repl = F.regexp_count(c, F.lit(chr(0xFFFD)))
    n_ctrl = F.regexp_count(
        c, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
    )
    repl_frac = F.when(n > 0, n_repl / n).otherwise(F.lit(0.0))
    ctrl_frac = F.when(n > 0, n_ctrl / n).otherwise(F.lit(0.0))
    has_null = c.contains(F.lit(chr(0)))
    return df.select(
        F.col(id_col),
        n.alias("n_chars"),
        repl_frac.alias("replacement_frac"),
        ctrl_frac.alias("control_frac"),
        has_null.alias("has_null_byte"),
        (
            (repl_frac <= F.lit(max_replacement_frac))
            & (ctrl_frac <= F.lit(max_control_frac))
            & ~has_null
        ).alias("keep"),
    )


def collapse_repeated_blocks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_tokens: int = 8,
) -> DataFrame:
    """Collapse CONSECUTIVE repeated token blocks within each document
    — the repair action for the pathology Gopher's dup-n-gram signals
    (:func:`ngram_repetition_signals`) only measures: template spam
    and generation loops repeat a phrase/paragraph back-to-back
    ("buy now buy now buy now ..."), and dropping the whole document
    throws away the good prefix.

    For each block size ``b`` in 1..``max_block_tokens``, one
    left-to-right pass deletes every block that exactly equals the
    ``b`` tokens before it; passes repeat until a fixpoint, so
    multi-scale repeats collapse fully ("a a b a a b" → b=1 → "a b a
    b" → b=2 → "a b").  First occurrence always survives; the result
    is idempotent by construction (it IS the fixpoint).

    Token-level operation over :func:`ws_tokens`: inter-token
    whitespace is normalized to single spaces in the output (the same
    contract as every token-level rebuild here); NULL text comes back
    as ``''`` with zero counts.

    Scale shape: per-document Python in ONE Arrow-batched pandas_udf
    riding the scan — zero shuffle, no corpus state, embarrassingly
    parallel.  Python is justified: back-referencing fixpoint
    rewriting is not expressible in relational/higher-order-function
    form (same class as :func:`train_bpe`'s merge application).

    Output: ``(id_col, text, n_tokens_before, n_tokens_after)``.
    """
    if max_block_tokens < 1:
        raise ValueError(
            f"max_block_tokens must be >= 1, got {max_block_tokens}"
        )
    import re as _re

    from pyspark.sql.functions import pandas_udf

    ws_re = _re.compile(r"\s+", _re.ASCII)
    max_b = max_block_tokens

    def _collapse(toks: "list[str]") -> "list[str]":
        changed = True
        while changed:
            changed = False
            for b in range(1, max_b + 1):
                if len(toks) < 2 * b:
                    continue
                out = toks[:b]
                i = b
                while i < len(toks):
                    if toks[i : i + b] == out[-b:] and i + b <= len(toks):
                        i += b
                        changed = True
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
        return toks

    @pandas_udf(
        "struct<text: string, n_tokens_before: int, n_tokens_after: int>"
    )
    def _fix(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            toks = [x for x in ws_re.split(t or "") if x]
            kept = _collapse(list(toks))
            rows.append((" ".join(kept), len(toks), len(kept)))
        return pd.DataFrame(
            rows, columns=["text", "n_tokens_before", "n_tokens_after"]
        )

    fixed = df.select(F.col(id_col), _fix(F.col(text_col)).alias("_r"))
    return fixed.select(
        id_col,
        F.col("_r.text").alias(text_col),
        F.col("_r.n_tokens_before").alias("n_tokens_before"),
        F.col("_r.n_tokens_after").alias("n_tokens_after"),
    )


def vocab_coverage(
    df: DataFrame,
    mass_fracs: "tuple[float, ...]" = (0.5, 0.9, 0.95, 0.99),
    text_col: str = "text",
    lower: bool = True,
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing number: the
    MINIMUM number of vocabulary types (taken most-frequent-first)
    whose occurrences cover each requested fraction of the corpus's
    token mass.  "32k types cover 95% of tokens" is the classic input
    to choosing a vocab size / OOV budget; pairs with
    :func:`zipf_report` (shape of the tail) and
    :func:`unigram_familiarity` (what a head-vocab misses per doc).

    Output: one row per requested fraction, ``(mass_frac, n_types,
    covered_frac)`` — ``covered_frac`` is the exact mass fraction the
    ``n_types`` head actually covers (≥ ``mass_frac``; int/int, exact
    cross-engine).  ``n_types`` is well-defined despite count ties:
    every type in a tie bucket carries identical mass, so the minimum
    count never depends on tie order.  An empty vocabulary (empty /
    all-whitespace corpus) yields zero rows — no mass to cover.

    Scale shape — deliberately NO global sort and NO vocabulary-sized
    window (the naive cumsum-over-sorted-vocab runs a single-partition
    window over tens of millions of types at 100 TB): one corpus-sized
    (token, count) aggregate (map-side combined), then the vocabulary
    collapses to the per-COUNT-VALUE histogram ``(count, n_types)`` —
    Zipfian corpora have ~O(√tokens) distinct count values — and the
    cumulative walk + threshold arithmetic run entirely on that tiny
    table (the :func:`select_token_budget` histogram-threshold
    pattern, applied to types instead of documents).
    """
    fr = sorted(set(mass_fracs))
    if not fr or any(not (0.0 < f <= 1.0) for f in fr):
        raise ValueError(
            f"mass_fracs must be non-empty, each in (0, 1], got {mass_fracs}"
        )
    from pyspark.sql.window import Window

    vocab = (
        df.select(F.explode(ws_tokens(text_col, lower=lower)).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # tiny: one row per distinct count value
    hist = vocab.groupBy("c").agg(F.count(F.lit(1)).alias("n_types"))
    w = Window.orderBy(F.col("c").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # _total as a whole-table window over the SAME tiny histogram —
    # a broadcast one-row aggregate would re-execute the corpus-sized
    # vocab plan a second time (the scan-review class)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        hist.select(
            "c",
            "n_types",
            (F.col("c") * F.col("n_types")).alias("_mass"),
        )
        .withColumn("_cum_mass", F.sum("_mass").over(w))
        .withColumn("_cum_types", F.sum("n_types").over(w))
        .withColumn("_total", F.sum("_mass").over(w_all))
    )
    fracs = F.explode(
        F.array(*[F.lit(float(f)) for f in fr])
    ).alias("mass_frac")
    # first bucket (count-descending) whose cumulative mass reaches the
    # target: previous buckets in full + ceil of the remainder at this
    # bucket's per-type mass
    hit = cum.select("*", fracs).filter(
        (F.col("_cum_mass") >= F.col("mass_frac") * F.col("_total"))
        & (
            F.col("_cum_mass") - F.col("_mass")
            < F.col("mass_frac") * F.col("_total")
        )
    )
    need = F.ceil(
        (F.col("mass_frac") * F.col("_total") - (F.col("_cum_mass") - F.col("_mass")))
        / F.col("c")
    ).cast("bigint")
    n_types = F.col("_cum_types") - F.col("n_types") + need
    covered = (
        (F.col("_cum_mass") - F.col("_mass") + need * F.col("c"))
        / F.col("_total")
    )
    return hit.select(
        "mass_frac",
        n_types.alias("n_types"),
        covered.alias("covered_frac"),
    )


def zipf_report(
    df: DataFrame,
    text_col: str = "text",
    top_ranks: int = 1000,
) -> DataFrame:
    """One-row corpus lexical data card: vocabulary size, type/token
    ratio, hapax fraction, and the Zipf slope — the corpus-naturalness
    sanity check (natural language sits near slope −1 on the log-log
    rank/frequency line; keyboard mash, template spam, and synthetic
    junk deviate hard, so a drifting slope between two crawls is an
    early data-quality alarm).

    Measures (whitespace tokens, lowercased — the shared tokenizer)::

        n_tokens          total token occurrences
        n_types           distinct tokens (vocabulary size)
        type_token_ratio  n_types / n_tokens
        hapax_frac        fraction of types occurring exactly once
        zipf_slope        OLS slope of ln(freq) on ln(rank) over the
                          ``top_ranks`` most frequent types (rank ties
                          broken by token asc — deterministic)

    Everything is a plain relational aggregate (exact, mirrorable):
    one corpus-sized explode → token count shuffle (map-side
    combined), a vocabulary-sized stats aggregate, and an OLS over
    the ``top_ranks``-row head — slope = (n·Σxy − ΣxΣy) /
    (n·Σx² − (Σx)²) computed as one aggregate, no fitting loop.

    Scale shape: the shuffle carries (token, count), pinned once
    (:func:`~dfsql_spark.operators.dedup._persist`) because the stats
    aggregate and the head both read it; the rank window runs over the
    ``top_ranks`` head only (a count-ordered TakeOrdered-sized subset,
    never the vocabulary); output is ONE row.  The pin outlives the
    call: release it with
    :func:`~dfsql_spark.operators.dedup.release_persists` once the
    report is consumed.
    """
    if top_ranks < 2:
        raise ValueError(f"top_ranks must be >= 2, got {top_ranks}")
    from pyspark.sql.window import Window

    from .dedup import _persist

    counts = _persist(
        df.select(
            F.explode(ws_tokens(text_col, lower=True)).alias("_tok")
        )
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    stats = counts.agg(
        F.sum("_n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("_n") == 1).cast("long")).alias("_hapax"),
    )
    # TakeOrderedAndProject (distributed per-partition top-k, the
    # vocab_topk shape) extracts the head; the rank window then runs
    # over only top_ranks rows, never the vocabulary
    w = Window.orderBy(F.col("_n").desc(), F.col("_tok").asc())
    head = (
        counts.orderBy(F.col("_n").desc(), F.col("_tok").asc())
        .limit(top_ranks)
        .withColumn("_r", F.row_number().over(w))
        .select(
            F.log(F.col("_r").cast("double")).alias("_x"),
            F.log(F.col("_n").cast("double")).alias("_y"),
        )
    )
    slope = head.agg(
        (
            (F.count(F.lit(1)) * F.sum(F.col("_x") * F.col("_y"))
             - F.sum("_x") * F.sum("_y"))
            / (F.count(F.lit(1)) * F.sum(F.col("_x") * F.col("_x"))
               - F.sum("_x") * F.sum("_x"))
        ).alias("zipf_slope")
    )
    return stats.crossJoin(slope).select(
        "n_tokens",
        "n_types",
        (F.col("n_types") / F.col("n_tokens")).alias("type_token_ratio"),
        (F.col("_hapax") / F.col("n_types")).alias("hapax_frac"),
        "zipf_slope",
    )
