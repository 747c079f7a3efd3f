"""Text-analysis Column expressions (SURVEY.md §2.10 L1/L2/L4).

Tokenization, shingling, MinHash signatures, fingerprints, quality
scoring, and a language-ID heuristic — all built-in expressions (split /
transform / xxhash64 / array ops), no Python UDFs, so every operator
scales as a map-side projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Java regex \s is [ \t\n\x0B\f\r] while DuckDB's RE2 \s is [\t\n\f\r ]
# — they disagree on VERTICAL TAB (\x0B), so a Spark `split(text,'\s+')`
# paired with an oracle `string_split_regex(text,'\s+')` is latently
# divergent (the u18 class at the EXPRESSION level, found by the
# round-11 battery work; green on the space-only fixture). Every shared
# tokenizer spells the class out so both engines compile the same set.
_RE2_WS = "[\\t\\n\\f\\r ]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (split of ''
    yields [''], which we filter). The whitespace class is the explicit
    RE2 \\s set — see _RE2_WS — so DuckDB '\\s+' oracles mirror
    exactly."""
    return F.filter(F.split(text, _RE2_WS + "+"), lambda t: t != "")


def bpe_ish_tokens(text: Column) -> Column:
    """Sub-word-ish tokenization: split on word boundaries AND keep
    punctuation runs as tokens (a BPE-flavored regex approximation for
    token counting when no real tokenizer is shippable).

    The whitespace filter must drop ALL whitespace-only fragments, not
    just "" and " ": Java's alternation tries the zero-width w/W
    lookarounds BEFORE the \\s+ branch at each position, so a
    whitespace char that directly follows a word character survives the
    split as its own fragment (observed: "tabs\\tand" -> ["tabs", "\\t",
    "and"] pre-filter). Result = maximal word runs + maximal
    punctuation runs, exactly regexp_extract_all('\\w+|[^\\w\\s]+')
    (the l4_token_counts oracle form, parity-stress-tested on messy
    text in test_llm_ops.py). Whitespace is the explicit RE2 \\s class
    (_RE2_WS): Java \\s additionally matches \\x0B, which RE2's
    [^\\w\\s] would keep as a punctuation token — the engines must
    agree on which characters ARE whitespace before they can agree on
    the token set."""
    return F.filter(
        F.split(text, r"(?<=\W)(?=\w)|(?<=\w)(?=\W)|" + _RE2_WS + "+"),
        lambda t: ~t.rlike("^" + _RE2_WS + "*\\z"),
    )


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def token_set_key(text: Column) -> Column:
    """Canonical token-set fingerprint key: sorted distinct tokens
    joined — identical token sets ⇒ identical key. Hash with xxhash64
    for a compact 64-bit fingerprint when the string key is too wide."""
    return F.array_join(F.sort_array(distinct_tokens(text)), " ")


def fingerprint64(text: Column) -> Column:
    """64-bit document fingerprint of the canonical token set."""
    return F.xxhash64(token_set_key(text))


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles (the MinHash unit). Documents shorter than
    k words yield their full token string as a single shingle."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n <= k, F.array(F.array_join(toks, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def minhash_signature(shingle_col: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: per hash function i, min over shingles of
    xxhash64(i ⊕ shingle). Deterministic, JVM-side, seed-varied by
    prefixing the hash index."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    shingle_col,
                    lambda s, i=i: F.xxhash64(F.concat(F.lit(f"mh{i}:"), s)),
                )
            )
            for i in range(n_hashes)
        ]
    )


def lsh_band_keys(signature: Column, bands: int = 4, rows: int = 4) -> Column:
    """LSH banding: hash each band of `rows` signature slots to one
    64-bit bucket key; docs sharing any band key become candidates.
    Returns array<struct<band:int, key:long>> for posexplode."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(signature, b * rows + r + 1).cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array: per bit, occurrence-weighted
    majority vote of xxhash64(token) bits. Order-invariant by
    construction (votes sum over the multiset) — the invariance the
    l2_simhash_invariance contract grades. Pure projection, no
    shuffle."""
    th = F.transform(tokens_col, lambda t: F.xxhash64(t))

    def vote_for_bit(b: int):
        # HOF lambdas must take exactly (acc, x) — no captured default args.
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    simhash = None
    for b in range(64):
        vote = F.aggregate(th, F.lit(0), vote_for_bit(b))
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        simhash = term if simhash is None else simhash.bitwiseOR(term)
    return simhash


def quality_score(text: Column) -> Column:
    """Deterministic document quality heuristic in [0,1]: rewards
    reasonable length and lexical diversity (type-token ratio). All
    integer ratios → engine-identical doubles."""
    toks = tokens(text)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    length_component = F.least(F.lit(1.0), n.cast("double") / F.lit(50.0))
    ttr = F.when(n > 0, n_distinct.cast("double") / n.cast("double")).otherwise(0.0)
    return length_component * ttr


_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"],
}


def lang_id(text: Column) -> Column:
    """Stopword-overlap language ID (n-gram-free heuristic): score each
    language by how many of its top stopwords appear; deterministic
    argmax with lexicographic tie-break ('und' = undetermined when no
    stopword hits). Real pipelines swap in fastText — the Spark-side
    shape (pure projection, no shuffle) is what matters at 100 TB."""
    toks = distinct_tokens(F.lower(text))
    scored = [
        F.struct(
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(_STOPWORDS.items())
    ]
    # array_max on struct orders by (hits, lang); lexicographically
    # larger lang wins ties — deterministic.
    best = F.array_max(F.array(*scored))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# Token-set pair primitive: dense-mask vs inverted-index (optimization
# rounds 12-13).
# ---------------------------------------------------------------------------

# A token-set similarity join has two regimes. SPARSE (real corpora:
# zipfian vocabularies of 10^5+ types): the inverted-index join — meet
# in per-token buckets, df-cap the hot head — is the scale-safe shape.
# DENSE (small closed vocabularies: tag sets, category codes, zones,
# this fixture's 31-word synthetic corpus): EVERY token bucket holds
# ~all documents, so inverted-index candidate generation degenerates to
# Ω(n²) pair rows WITH |vocab|-fold duplication that a pair-count
# aggregate must then shuffle back down (measured round 12: 148 s for
# l2_jaccard_pairs at sf0.1 — 5 000 docs × ~31 shared tokens ≈ 190M
# intermediate rows). When the GLOBAL vocabulary fits 64 bits, each
# document's token set folds into one BIGINT and |A∩B| is a single
# AND+POPCOUNT — the same n²/2 pairs evaluate as a broadcast pair scan
# of narrow mask rows with no explode, no duplication and no pair-count
# shuffle. The regime is picked ONCE, in token_set_pairs, by ONE probe:
# a capped distinct (limit cap+1) whose ≤ cap rows are the exact
# vocabulary and whose cap+1st row means sparse.
DENSE_VOCAB_CAP = 64


def dense_token_masks(df, id_col: str, text_col: str = "text"):
    """(id, __mask, __n) per row when the global distinct-token
    vocabulary of ``df[text_col]`` fits ``DENSE_VOCAB_CAP`` bits, else
    ``None`` (token_set_pairs then takes the inverted-index plan).

    ``__mask`` ORs ``1 << pos(token)`` over the row's tokens in one
    per-row ``aggregate``; ``__n`` = bit_count(__mask) = |distinct
    tokens|. Rows with no tokens (empty or NULL text) give no mask row,
    as ``explode`` gives none in the sparse plan. Masks are per ROW, so
    rows sharing an id keep their own token sets, as in the sparse
    plan (a groupBy(id) bit_or used to OR them, and the regimes
    disagreed). Bits follow the sorted vocabulary; bit 63 is the BIGINT
    sign bit, which AND and bit_count treat like any other.

    Scale: ONE probe action, and the driver receives ≤ cap+1 rows. The
    distinct's exchange carries each partition's distinct tokens —
    never more than the token rows the sparse self-join then shuffles —
    so the probe never costs more than the plan it picks; the r13
    HLL-sketch pre-probe only added a scan to every dense build. The
    masks are one narrow projection of the scan (no explode, no
    groupBy, no exchange), so mask_pair_scan's two sides each re-derive
    them; the old ckpt existed only because both sides re-ran an
    explode + bit_or aggregate (ADVICE r12 #3).
    """
    toks = distinct_tokens(F.col(text_col))
    probe = df.select(F.explode(toks)).distinct().limit(DENSE_VOCAB_CAP + 1)
    vocab = sorted(r[0] for r in probe.collect())  # bounded: limit(cap+1) above
    if len(vocab) > DENSE_VOCAB_CAP:
        return None
    pos_map = F.create_map(
        *[c for i, t in enumerate(vocab) for c in (F.lit(t), F.lit(i))]
    )
    # F.shiftleft takes only a Python int shift; the per-token shift
    # is a Column, so the SQL function is called by name
    mask = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc.bitwiseOR(
            F.call_function("shiftleft", F.lit(1).cast("bigint"), F.element_at(pos_map, t))
        ),
    )
    return (
        df.where(F.size(toks) > 0)
        .select(F.col(id_col), mask.alias("__mask"))
        .select(id_col, "__mask", F.bit_count("__mask").alias("__n"))
    )


def mask_pair_scan(masks, id_col: str, spark):
    """Self pair scan over a dense-mask table: all (a, b) with
    a.id < b.id, as a deliberate BroadcastNestedLoopJoin — the stream
    side is round-robin repartitioned to the session's default
    parallelism so the n²/2 popcount evaluations spread across cores
    instead of landing on the scan's one task per row group. Each side
    re-derives the masks from the scan; nothing runs eagerly. Returns
    the joined frame with both sides aliased a/b; token_set_pairs
    projects it to the pair contract.

    Scale: right while the mask rows fit a broadcast (~10⁷ rows of
    16 B); past that, block the pair grid (QB×IB on id hash —
    l3_knn_block_matmul's shape). With a dense tiny vocabulary that
    O(n²) is unavoidable in ANY plan — every pair collides in some
    token — so the mask scan is the cheapest exact form, not a
    shortcut."""
    a = masks.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = masks.alias("b")
    return a.join(F.broadcast(b), F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))


def token_set_pairs(df, id_col: str, text_col: str, spark):
    """Every unordered document pair sharing at least one distinct
    token: ``(id_a, id_b, na, nb, common)`` with ``id_a < id_b``,
    ``na``/``nb`` the two distinct-token counts and ``common`` the
    size of the intersection (all INT). Documents with no tokens (empty
    or NULL text) pair with nothing. Callers add only their measure and
    threshold.

    The regime is decided here, once per call (see DENSE_VOCAB_CAP):

    DENSE (vocabulary ≤ 64 by one capped-distinct probe): the per-row
    masks of dense_token_masks through mask_pair_scan's broadcast pair
    scan, ``common = bit_count(a & b)``; ``common > 0`` drops the disjoint
    pairs the scan also visits, so both regimes return the same set.

    SPARSE: the inverted-index join — explode distinct tokens,
    equi-join on token with ``a.id < b.id``, count common per pair.
    Never the O(n²) cross product; its cost is Σ df(token)², so hot
    tokens are what bound it (df-capped / MinHash variants in
    operators/llm.py are the declared paths for zipfian heads).
    """
    masks = dense_token_masks(df, id_col, text_col)
    if masks is not None:
        return (
            mask_pair_scan(masks, id_col, spark)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.__n").alias("na"),
                F.col("b.__n").alias("nb"),
                F.bit_count(F.col("a.__mask").bitwiseAND(F.col("b.__mask"))).alias("common"),
            )
            .filter(F.col("common") > 0)
        )
    toks = distinct_tokens(F.col(text_col))
    # __row keys each input row, so rows sharing an id (and a token
    # count) keep their own pair counts, as in the dense regime. It is
    # projected before the explode, which would evaluate it per output row.
    rows = df.select(F.monotonically_increasing_id().alias("__row"), "*").select(
        "__row",
        F.col(id_col).alias("__id"),
        F.size(toks).alias("__n"),
        F.explode(toks).alias("__tok"),
    )
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(b, (F.col("a.__tok") == F.col("b.__tok")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy("a.__row", "b.__row", "a.__id", "b.__id", "a.__n", "b.__n")
        .agg(F.count("*").cast("int").alias("common"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("na"),
            F.col("b.__n").alias("nb"),
            "common",
        )
    )
