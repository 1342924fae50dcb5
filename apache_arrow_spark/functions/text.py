"""Text analysis for large-scale training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

Everything here is built from ``pyspark.sql.functions`` column expressions —
whole-stage-codegen'd, zero Python in the row path — so a 100 TB documents
table processes at scan speed.  Every formula has an exact ANSI-SQL twin
(used by the DuckDB oracle), which keeps the operators portable and the
correctness gate meaningful.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# small multilingual stopword marker sets (language ID + stopword ratio)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "und", "die", "das", "ist", "nicht", "von", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "pour"],
    "es": ["el", "los", "las", "es", "y", "que", "por", "para"],
}
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})

PUNCT_CLASS = r"[.,;:!?]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    return F.when(F.length(F.btrim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.btrim(text), r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def punct_count(text: Column) -> Column:
    return (F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))).cast("bigint")


def punct_ratio(text: Column, ndigits: int = 6) -> Column:
    return F.round(punct_count(text) / F.greatest(F.length(text), F.lit(1)), ndigits)


def stopword_count(text: Column, words: list[str] | None = None) -> Column:
    wl = F.array(*[F.lit(w) for w in (words or ALL_STOPWORDS)])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(wl, t))).cast("bigint")


def stopword_ratio(text: Column, ndigits: int = 6) -> Column:
    return F.round(stopword_count(text) / F.greatest(token_count(text), F.lit(1)), ndigits)


def mean_word_length(text: Column, ndigits: int = 6) -> Column:
    no_space = F.length(F.regexp_replace(text, r"\s+", ""))
    return F.round(no_space / F.greatest(token_count(text), F.lit(1)), ndigits)


def quality_score(text: Column, ndigits: int = 6) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, word-length
    sanity, stopword presence.  The exact blend matters less than it being
    deterministic, cheap, and monotone in the obvious signals."""
    n_tok = token_count(text)
    length_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    mwl = mean_word_length(text, 6)
    wordlen_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ok = F.least(stopword_ratio(text, 6) * 4, F.lit(1.0))
    return F.round((length_ok + wordlen_ok + stop_ok) / 3, ndigits)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-stopword hit counts over the token array."""
    toks = tokens(text)
    out = {}
    for lang, words in STOPWORDS.items():
        wl = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(wl, t))).cast("bigint")
    return out


def lang_id(text: Column) -> Column:
    """Heuristic language ID: CJK char presence -> zh; else argmax of marker
    counts with fixed precedence en>de>fr>es; 'und' when nothing matches."""
    scores = lang_scores(text)
    has_cjk = text.rlike(r"[一-鿿]")
    best = F.greatest(*scores.values())
    pred = (
        F.when(text.isNull(), F.lit(None).cast("string"))
        .when(has_cjk, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["de"] == best, F.lit("de"))
        .when(scores["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return pred


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.btrim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit document fingerprint (hex md5 of the normalized
    text) — the exact-dedup key.  md5 exists verbatim in DuckDB, keeping the
    oracle 1:1."""
    return F.md5(normalize_text(text))


BPE_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def token_estimate_bpe(text: Column) -> Column:
    """BPE-flavored token count estimate: alphabetic runs count once,
    digits individually, punctuation individually (the dominant terms of
    GPT-style tokenizers), scaled by ~1.3 subword factor."""
    pieces = F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))
    return F.ceil(pieces * F.lit(1.3)).cast("bigint")


def shingles_of_normalized(norm: Column, k: int = 5) -> Column:
    """Distinct character k-grams of an ALREADY-normalized string column.

    Hot-path form: callers that shingle at scale should project
    ``normalize_text`` into a column first (ideally before an exchange) and
    shingle the plain attribute — inlining the normalization into this
    expression tree multiplies its evaluation (guard + sequence bound +
    lambda all reference it) and bloats the generated code ~7x cold.
    """
    n = F.length(norm) - F.lit(k - 1)
    # sequence(1, n) with n<1 would generate a DESCENDING range — guard it
    return F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(norm, i, F.lit(k)))
        )
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the normalized text (the MinHash input
    set).  Pure expression: substring over a generated index sequence."""
    return shingles_of_normalized(normalize_text(text), k)


def gram_hashes(norm: Column, k: int = 5) -> Column:
    """Sequential k-gram md5-prefix int64 hashes of a normalized string
    (order preserved — the winnowing input; contrast the DISTINCT set
    shingles_of_normalized builds for MinHash).

    ``norm`` may be a raw expression (e.g. ``normalize_text(col)``): it is
    let-bound through a single-element ``transform`` so each gram reads
    the evaluated string — without the binding, Catalyst inlines the
    normalization regex into EVERY gram lambda (~doc_len regex evals per
    document; measured 25 s for 1.5M grams at sf0.1 vs ~2 s bound).
    """

    def body(nv: Column) -> Column:
        n = F.length(nv) - F.lit(k - 1)
        grams = F.when(n < 1, F.array().cast("array<string>")).otherwise(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(nv, i, F.lit(k)))
        )
        return F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
        )

    return F.element_at(F.transform(F.array(norm), body), 1)


def winnow_fingerprints(hs: Column, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS local
    plagiarism-detection scheme): min hash of every w-window of the
    sequential k-gram hash stream, deduped.  Guarantees every shared
    substring of length >= w+k-1 contributes a shared fingerprint, which
    makes the fingerprints joinable for local-overlap detection the way
    whole-document digests are for exact dedup.

    ``hs`` may be the raw :func:`gram_hashes` EXPRESSION: it is let-bound
    through a single-element ``transform`` whose lambda variable holds the
    evaluated array, so every window reads the value instead of
    re-evaluating the md5 stream.  (Projecting to an intermediate column
    is NOT sufficient — CollapseProject re-inlines it into every lambda
    reference, turning the windowing into O(doc_len^2) md5 calls; measured
    as 18.7 s at sf0.1 vs ~1 s let-bound.)  Documents shorter than one
    window contribute their single global min (every non-empty doc yields
    >= 1 fingerprint).  Pure array expressions, no UDF, no shuffle.
    """

    def body(h: Column) -> Column:
        m = F.size(h)
        return (
            F.when(m == 0, F.array().cast("array<bigint>"))
            .when(m < w, F.array(F.array_min(h)))
            .otherwise(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), m - F.lit(w - 1)),
                        lambda j: F.array_min(F.slice(h, j, w)),
                    )
                )
            )
        )

    return F.element_at(F.transform(F.array(hs), body), 1)


# Demo merge table for REAL BPE encoding: learned-order pairs (merge 2
# consumes merge 1's output — the hierarchical property of BPE vocabs).
BPE_DEMO_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"),
]


def bpe_symbols(text: Column) -> Column:
    """Initial BPE symbol sequence: every character of the normalized
    (lowercase, [a-z0-9 ]-only) text wrapped as ``(c)``.  The paren
    wrapping is the delimiter trick that makes merge application EXACT
    with plain string replace: pattern ``(x)(y)`` never shares boundary
    characters between adjacent matches (unlike space-separated symbols,
    where consecutive pairs share the separator and non-overlapping
    replace under-merges), and left-to-right non-overlapping replacement
    is precisely BPE's per-iteration merge convention."""
    clean = F.regexp_replace(normalize_text(text), "[^a-z0-9 ]", "")
    return F.regexp_replace(clean, "(.)", "($1)")


def bpe_apply_merges(
    text: Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """REAL BPE encoding under a FIXED merge table (the deployment shape:
    a trained tokenizer ships its ordered merge list; applying it is pure
    string rewriting).  Each merge (x, y) -> xy rewrites ``(x)(y)`` to
    ``(xy)`` over the whole symbol sequence — all occurrences, left to
    right, exactly the BPE merge step.  The entire tokenizer application
    is a chain of codegen'd replaces: no UDF, no Python, and an ANSI-SQL
    oracle replays it verbatim.  Space symbols ``( )`` never merge (no
    merge contains a space), so words stay isolated without special
    word-boundary handling."""
    seq = bpe_symbols(text)
    for x, y in merges or BPE_DEMO_MERGES:
        seq = F.replace(seq, F.lit(f"({x})({y})"), F.lit(f"({x}{y})"))
    return seq


def bpe_token_count(
    text: Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Exact token count of the text under the fixed-merge BPE vocab
    (space symbols excluded): count of ``(`` after dropping ``( )``."""
    no_space = F.replace(bpe_apply_merges(text, merges), F.lit("( )"), F.lit(""))
    return (
        F.length(no_space) - F.length(F.replace(no_space, F.lit("("), F.lit("")))
    ).cast("bigint")


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 5,
) -> list[tuple[str, str, int]]:
    """TRAIN a BPE merge table on the corpus (the algorithm of Sennrich et
    al.; reference tokenizers learn vocabularies exactly this way): start
    from the character symbol sequence and repeat n_merges times —
    count all adjacent within-word symbol pairs, take the most frequent
    (ties broken lexicographically, so the learned table is deterministic
    and an external oracle replays it), and rewrite every occurrence via
    the exact-semantics paren replace.

    Returns the learned [(left, right, pair_count), ...] in merge order.

    Scale shape per round: one slice/zip/explode over the current symbol
    sequences collapsed into a combinable (pair -> count) aggregate —
    shuffle carries distinct pairs only — and ONE driver row (the
    argmax).  n_merges rounds = n_merges corpus passes, the honest cost
    of the sequential algorithm (each round's counts depend on the
    previous merge); production vocab sizes batch tens of merges per
    round with the same plan shape."""
    from apache_arrow_spark.session import free_local_checkpoint, spread_compute, truncate

    # spread once up front: every round's pair count AND the replace
    # rewrite chain are narrow, so a single-split source would serialize
    # all n_merges corpus passes on one core (measured five ~1 s
    # single-task stages at sf0.1); the exchange moves raw text once.
    # truncate the symbol table: without it every ROUND's job re-ran the
    # single-task raw scan and the spread exchange (r10 profile: four
    # ~0.5 s 1-task stages per call).
    seq0 = truncate(
        spread_compute(df.select(F.col(text_col))).select(bpe_symbols(F.col(text_col)).alias("q"))
    )
    seq = seq0
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        sy = seq.filter(F.length("q") >= 4).select(
            F.split(F.expr("substring(q, 2, length(q) - 2)"), r"\)\(").alias("a")
        )
        pairs = sy.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(a, 1, size(a) - 1)").alias("x"),
                    F.expr("slice(a, 2, size(a) - 1)").alias("y"),
                )
            ).alias("p")
        ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        best = (
            pairs.filter((F.col("x") != " ") & (F.col("y") != " "))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("x"), F.col("y"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        x, y, cnt = best[0]["x"], best[0]["y"], int(best[0]["cnt"])
        merges.append((x, y, cnt))
        seq = seq.select(
            F.replace(F.col("q"), F.lit(f"({x})({y})"), F.lit(f"({x}{y})")).alias("q")
        )
    free_local_checkpoint(seq0)
    return merges


def zipf_profile(
    df,
    text_col: str = "text",
    group_col: str = "source",
) -> "DataFrame":
    """Per-group lexical-statistics card: type/token counts, type-token
    ratio, hapax fraction, and the fitted Zipf slope — the corpus
    diagnostics a dataset card reports per source (a natural-language
    source fits slope ~ -1; templated/boilerplate sources flatten, token
    soup steepens).

    The slope is the least-squares fit of ln(freq) on ln(rank) computed
    from per-term quantized coordinates: ln values are floor-quantized to
    int64 at 1e6 once per TERM, the regression moments are exact integer
    sums of those fixed-point coordinates (order-independent, so the fit
    is bit-reproducible across engines — q121's moment discipline plus
    the q100 transcendental quantization), and only the final ratio is a
    double.  Returns (group_col, n_types, n_tokens, n_hapax, ttr_micro,
    hapax_micro, slope_micro) with the three ratios floor-quantized at
    1e6.

    Scale shape: tokens collapse to per-(group, term) counts (the one
    corpus-sized shuffle); ranking is a window over the per-group TERM
    table (vocabulary-sized, Zipf-sublinear in the corpus); moments are
    one combinable aggregate per group."""
    from pyspark.sql import DataFrame, Window

    cells = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("g", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("g").orderBy(F.col("c").desc(), F.col("term").asc())
    ranked = cells.withColumn("rnk", F.row_number().over(w))
    _q = 1_000_000.0
    xq = F.floor(F.log(F.col("rnk").cast("double")) * F.lit(_q)).cast("bigint")
    yq = F.floor(F.log(F.col("c").cast("double")) * F.lit(_q)).cast("bigint")
    pts = ranked.select("g", "c", xq.alias("x"), yq.alias("y"))
    m = pts.groupBy("g").agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    slope = (
        (F.col("v").cast("decimal(38,0)") * F.col("sxy") - (F.col("sx").cast("decimal(38,0)") * F.col("sy").cast("decimal(38,0)")))
        .cast("double")
        / (
            (F.col("v").cast("decimal(38,0)") * F.col("sxx") - (F.col("sx").cast("decimal(38,0)") * F.col("sx").cast("decimal(38,0)")))
            .cast("double")
        )
    )
    return m.select(
        F.col("g").alias(group_col),
        F.col("v").cast("bigint").alias("n_types"),
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("hapax").cast("bigint").alias("n_hapax"),
        F.floor(F.col("v") / F.col("n") * F.lit(_q)).cast("bigint").alias("ttr_micro"),
        F.floor(F.col("hapax") / F.col("v") * F.lit(_q)).cast("bigint").alias("hapax_micro"),
        F.floor(slope * F.lit(_q)).cast("bigint").alias("slope_micro"),
    )


def log_templates(
    df,
    line_col: str = "line",
    distinct_threshold: int = 1,
):
    """Drain-style log-template mining: lines are tokenized, grouped into
    shapes by (token count, first token), and each token POSITION whose
    distinct-value count within the shape exceeds ``distinct_threshold``
    is generalized to ``<*>`` — recovering the constant skeleton and the
    variable slots of machine-generated text without any supplied
    patterns.  The default threshold 1 wildcards ANY varying position
    (classic Drain behavior); a higher threshold tolerates low-cardinality
    noise, printing the lexicographically-first exemplar for positions it
    keeps.  Returns (template, n_lines, n_var_positions).

    Scale shape: explode to (shape, pos, token) cells, ONE combinable
    distinct-count aggregate per cell position (position tables are
    shape-cardinality x line-width — tiny), and a per-shape rebuild; raw
    lines are counted, never pairwise compared.  At 100 TB the exact
    count_distinct per position can swap to approx_count_distinct
    without changing the wildcard decisions at any sane threshold."""
    from pyspark.sql import DataFrame  # noqa: F401

    from apache_arrow_spark.session import spread_compute

    # spread before the double tokenize + posexplode: narrow up to the
    # distinct-count map side, so a single-split source serializes it
    toks = spread_compute(df.select(F.col(line_col))).select(
        F.posexplode(tokens(F.col(line_col))).alias("pos", "tok"),
        F.size(tokens(F.col(line_col))).alias("n_toks"),
        F.substring_index(F.btrim(F.col(line_col)), " ", 1).alias("tok0"),
    )
    pos_stats = (
        toks.groupBy("n_toks", "tok0", "pos")
        .agg(
            F.countDistinct("tok").alias("nd"),
            F.min("tok").alias("mtok"),
        )
        .select(
            "n_toks",
            "tok0",
            "pos",
            F.when(F.col("nd") > distinct_threshold, F.lit("<*>"))
            .otherwise(F.col("mtok"))
            .alias("out_tok"),
            (F.col("nd") > distinct_threshold).cast("int").alias("is_var"),
        )
    )
    shapes = pos_stats.groupBy("n_toks", "tok0").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "out_tok"))),
                lambda s: s["out_tok"],
            ),
            " ",
        ).alias("template"),
        F.sum("is_var").cast("bigint").alias("n_var_positions"),
    )
    counts = df.select(
        F.size(tokens(F.col(line_col))).alias("n_toks"),
        F.substring_index(F.btrim(F.col(line_col)), " ", 1).alias("tok0"),
    ).groupBy("n_toks", "tok0").agg(F.count(F.lit(1)).alias("n_lines"))
    return shapes.join(counts, ["n_toks", "tok0"]).select(
        "template", F.col("n_lines").cast("bigint").alias("n_lines"), "n_var_positions"
    )
