"""Text analysis over the documents table — token counting, quality
scoring, language ID, fingerprinting.

All operators are pure column expressions (whole-stage codegen; zero
Python on executors) and scale as a single map pass — no shuffle at all:
at 100 TB these run at scan speed with full column pruning (only ``text``
plus the id column leave the parquet reader).

Every numeric is guarded for ANSI mode (Spark 4 default): no division by
zero, no overflow (rolling-hash arithmetic stays < 2^61).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smatchpp_spark.functions.hashing import hash64

# deliberately tiny, deterministic stopword sets — enough signal for a
# heuristic language id / stopword-ratio feature without external data
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "pas", "pour", "que"],
}

_MOD = 2147483647  # 2^31 - 1: keeps the rolling-hash fold ANSI-overflow-safe


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens of the trimmed text; empty text → empty array."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def _count_class(c: Column, pattern: str) -> Column:
    """Number of characters matching a regex class, via length delta."""
    return F.length(c) - F.length(F.regexp_replace(c, pattern, ""))


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_tokens, n_lines, avg_token_len)."""
    t = tokens(text_col)
    n_tokens = F.size(t)
    total_token_len = F.aggregate(
        t, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    return docs.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (F.size(F.split(F.col(text_col), "\n")) ).alias("n_lines"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(total_token_len.cast("double") / n_tokens)
        .alias("avg_token_len"),
    )


def quality_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Length/punctuation/digit/stopword features + a combined quality score.

    The combined score is a fixed, documented heuristic (not learned):
    starts at 1.0 and is docked for short docs, digit/punct-heavy text and
    stopword-free text (a proxy for non-natural-language content).
    """
    c = F.col(text_col)
    n = F.length(c)
    safe_n = F.when(n == 0, F.lit(1)).otherwise(n)
    t = tokens(text_col)
    n_tok = F.size(t)
    safe_tok = F.when(n_tok == 0, F.lit(1)).otherwise(n_tok)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    n_stop = F.size(F.filter(F.transform(t, F.lower), lambda w: w.isin(*all_stop)))

    punct_ratio = _count_class(c, r"[\.,;:!\?'\"()\[\]{}]").cast("double") / safe_n
    digit_ratio = _count_class(c, "[0-9]").cast("double") / safe_n
    upper_ratio = _count_class(c, "[A-Z]").cast("double") / safe_n
    space_ratio = _count_class(c, r"\s").cast("double") / safe_n
    stop_ratio = n_stop.cast("double") / safe_tok

    score = (
        F.lit(1.0)
        - F.when(n < 50, F.lit(0.3)).otherwise(F.lit(0.0))
        - F.least(digit_ratio * 2.0, F.lit(0.3))
        - F.least(punct_ratio * 2.0, F.lit(0.2))
        - F.when(stop_ratio < 0.05, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return docs.select(
        id_col,
        n.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(space_ratio, 6).alias("space_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(F.greatest(score, F.lit(0.0)), 6).alias("quality"),
    )


def langid(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits, ties
    broken en > de > fr (fixed order, same CASE chain as the SQL oracle)."""
    t = F.transform(tokens(text_col), F.lower)

    def _hits(ws: list[str]) -> Column:
        return F.size(F.filter(t, lambda w: w.isin(*ws)))

    hits = {lang: _hits(ws) for lang, ws in STOPWORDS.items()}
    lang = (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]), F.lit("en"))
        .when(hits["de"] >= hits["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        id_col,
        hits["en"].alias("hits_en"),
        hits["de"].alias("hits_de"),
        hits["fr"].alias("hits_fr"),
        F.when(
            (hits["en"] + hits["de"] + hits["fr"]) == 0, F.lit("unknown")
        ).otherwise(lang).alias("lang_pred"),
    )


def fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Document fingerprints:

    * ``content_hash`` — raw 64-bit content hash;
    * ``norm_hash`` — hash of the whitespace/case-normalized text (catches
      trivially re-formatted copies);
    * ``rolling_hash`` — order-sensitive polynomial (Karp-Rabin style)
      fold over token hashes, mod 2^31-1 so the fold never overflows
      ANSI int64 arithmetic.
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    t = tokens(text_col)
    rolling = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.pmod(hash64(x, portable), F.lit(_MOD))) % _MOD,
    )
    return docs.select(
        id_col,
        hash64(F.col(text_col), portable).alias("content_hash"),
        hash64(norm, portable).alias("norm_hash"),
        rolling.alias("rolling_hash"),
    )


# GPT2-style pretokenizer classes, simplified to an engine-portable form
# (no lookaheads, no \p classes): contractions, letter runs, digit runs,
# other-symbol runs — the standard BPE pre-split shape, counted JVM-side.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document BPE-ish token counts: whitespace tokens vs the
    pretokenizer split above (the unit LLM training budgets count).
    One regexp scan, no shuffle, column-pruned."""
    ws = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        ws.cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0))
        .cast("int")
        .alias("bpe_tokens"),
    )


def repetition_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition features (the Gopher / MassiveText
    quality-filter family, Rae et al. 2021 §A1.1, public): the fraction
    of the document made of repeated lines and repeated word n-grams.

    Output per input doc (every doc gets a row, zeros when empty):

    * ``n_lines`` — non-empty trimmed lines;
    * ``dup_line_frac`` — line instances whose line text occurs more
      than once in the doc, over all line instances;
    * ``dup_line_char_frac`` — same, weighted by line length in chars;
    * ``top_2gram_frac`` — occurrences of the most frequent word
      2-gram over all 2-gram instances (lowercased whitespace tokens);
    * ``dup_3gram_frac`` — 3-gram instances whose gram occurs more
      than once, over all 3-gram instances.

    Scale shape at 100 TB: ONE projection builds tagged (kind, item)
    structs for lines + both gram sizes (single scan of ``text`` — not
    a union of projections, which would scan the parquet three times),
    one explode, then two map-side-combined groupBys keyed by
    ``(doc_id, kind, item)`` and ``doc_id`` — all keys are doc-local so
    partition sizes track document sizes, never corpus size.  The final
    left join keeps empty docs; the docs side carries only ``doc_id``
    so it is a broadcastable-or-shuffle join on the dedup key with no
    payload amplification.
    """
    toks = F.transform(tokens(text_col), F.lower)

    def grams(n: int) -> Column:
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
        )

    def tag(kind: str, arr: Column) -> Column:
        return F.transform(
            arr, lambda s: F.struct(F.lit(kind).alias("kind"), s.alias("item"))
        )

    # NB: F.trim must be wrapped — transform() would pass the element
    # index as trim's second (trim-characters) parameter
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    items = docs.select(
        F.col(id_col),
        F.explode(
            F.concat(tag("ln", lines), tag("g2", grams(2)), tag("g3", grams(3)))
        ).alias("it"),
    ).select(id_col, F.col("it.kind").alias("kind"), F.col("it.item").alias("item"))

    c = items.groupBy(id_col, "kind", "item").agg(F.count(F.lit(1)).alias("cnt"))
    k, cnt = F.col("kind"), F.col("cnt")
    zero = F.lit(0).cast("long")
    agg = c.groupBy(id_col).agg(
        F.sum(F.when(k == "ln", cnt).otherwise(zero)).alias("n_lines"),
        F.sum(F.when((k == "ln") & (cnt > 1), cnt).otherwise(zero)).alias("dup_lines"),
        F.sum(F.when(k == "ln", cnt * F.length("item")).otherwise(zero)).alias("line_chars"),
        F.sum(
            F.when((k == "ln") & (cnt > 1), cnt * F.length("item")).otherwise(zero)
        ).alias("dup_line_chars"),
        F.sum(F.when(k == "g2", cnt).otherwise(zero)).alias("g2_tot"),
        F.max(F.when(k == "g2", cnt)).alias("g2_max"),
        F.sum(F.when(k == "g3", cnt).otherwise(zero)).alias("g3_tot"),
        F.sum(F.when((k == "g3") & (cnt > 1), cnt).otherwise(zero)).alias("g3_dup"),
    )

    def frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(
                F.coalesce(den, F.lit(0)) == 0, F.lit(0.0)
            ).otherwise(F.coalesce(num, F.lit(0)).cast("double") / den),
            6,
        )

    a = agg.alias("a")
    return (
        docs.select(id_col).alias("d")
        .join(a, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("n_lines", F.lit(0)).cast("int").alias("n_lines"),
            frac(F.col("dup_lines"), F.col("n_lines")).alias("dup_line_frac"),
            frac(F.col("dup_line_chars"), F.col("line_chars")).alias("dup_line_char_frac"),
            frac(F.col("g2_max"), F.col("g2_tot")).alias("top_2gram_frac"),
            frac(F.col("g3_dup"), F.col("g3_tot")).alias("dup_3gram_frac"),
        )
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level line deduplication — the CCNet boilerplate-removal
    pass (Wenzek et al. 2019, public): a line whose normalized form
    (trimmed, lowercased) occurs ``min_count`` or more times ACROSS THE
    CORPUS is boilerplate (headers, footers, nav text) and is dropped
    from every document; empty lines are structure, never dropped.

    Output per input doc: ``(doc_id, n_lines, n_dropped, text_clean)``
    — ``text_clean`` is the document rebuilt from the surviving lines
    in their original order (original un-normalized text, original
    positions, '\\n'-joined).

    Scale shape at 100 TB: one posexplode, one map-side-combined
    groupBy on the normalized line (hot boilerplate lines are exactly
    the ones partial aggregation absorbs), one line→count equi-join and
    one per-doc ordered reconstruction agg — all keys are the line hash
    or the doc id, nothing quadratic, no driver-side state.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.lower(F.trim(F.col("line"))))
    boiler = (
        lines.filter(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("norm")
    )
    tagged = lines.join(
        boiler.withColumn("is_boiler", F.lit(True)), "norm", "left"
    ).select(
        id_col,
        "pos",
        "line",
        (F.col("is_boiler").isNotNull() & (F.col("norm") != "")).alias("drop"),
    )
    rebuilt = (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum(F.when(F.col("drop"), 1).otherwise(0))
            .cast("int")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("drop"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("text_clean"),
        )
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


def vocabulary(
    docs: DataFrame,
    k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` corpus vocabulary with cumulative coverage — the
    vocab-induction step of a tokenizer/training pipeline.

    Output: ``(rank, word, cnt, cum_share)`` — rank 1..k by
    ``(count desc, word asc)`` (deterministic under ties),
    ``cum_share`` = running token-count share, i.e. the fraction of all
    token occurrences a vocabulary cut at this rank would cover (the
    curve used to pick vocab sizes / measure OOV rates).

    Scale shape at 100 TB: one explode + one map-side-combined word
    count (hot words are exactly what partial aggregation absorbs),
    then a global top-k — Spark executes orderBy+limit as per-partition
    TakeOrdered (k rows per partition cross the wire, never the full
    vocabulary); rank and running share are windowed over the k
    surviving rows only.
    """
    words = docs.select(
        F.explode(F.transform(tokens(text_col), F.lower)).alias("word")
    ).filter(F.length("word") > 0)
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    return (
        top.crossJoin(total)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "word",
            "cnt",
            F.round(
                (F.sum("cnt").over(w)).cast("double") / F.col("tot"), 6
            ).alias("cum_share"),
        )
    )


def gopher_filter(
    docs: DataFrame,
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
    min_required_stopwords: int = 2,
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021 §A1.1,
    public) as one boolean-per-rule projection plus the combined
    ``keep`` verdict — the standard pre-training corpus filter.

    Rules (each a ``fail_*`` column, True = rule violated):

    * word count outside ``[min_words, max_words]``;
    * mean word length outside ``[min_mean_word_len, max_mean_word_len]``;
    * symbol-to-word ratio (``#`` and ``...``/``…``) above
      ``max_symbol_ratio``;
    * more than ``max_bullet_frac`` of lines starting with a bullet
      (``•``, ``-``, ``*``) or more than ``max_ellipsis_frac`` ending
      with an ellipsis;
    * fewer than ``min_alpha_word_frac`` of words containing at least
      one alphabetic character;
    * fewer than ``min_required_stopwords`` distinct hits from the
      required-stopword list (the/be/to/of/and/that/have/with).

    Single text scan, no shuffle, column-pruned — a pure projection
    whose symbol/ellipsis counts use replace-based counting (portable:
    identical in Spark and DuckDB, no regex-dialect divergence).
    Empty documents fail the word-count rule and are dropped.
    """
    c = F.col(text_col)
    t = tokens(text_col)
    n_tok = F.size(t)
    safe_tok = F.when(n_tok == 0, F.lit(1)).otherwise(n_tok)
    mean_len = (
        F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
        / safe_tok
    )
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_dots = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / 3
    n_hell = F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    symbol_ratio = (n_hash + n_dots + n_hell).cast("double") / safe_tok

    lines = F.filter(
        F.transform(F.split(c, "\n"), F.trim), lambda l: F.length(l) > 0
    )
    n_lines = F.size(lines)
    safe_lines = F.when(n_lines == 0, F.lit(1)).otherwise(n_lines)
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("•") | l.startswith("-") | l.startswith("*"),
            )
        ).cast("double")
        / safe_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("double")
        / safe_lines
    )
    alpha_frac = (
        F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / safe_tok
    )
    required = ["the", "be", "to", "of", "and", "that", "have", "with"]
    low = F.transform(t, F.lower)
    n_req = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in required]),
            lambda w: F.array_contains(low, w),
        )
    )

    fails = {
        "fail_word_count": (n_tok < min_words) | (n_tok > max_words),
        "fail_mean_word_len": (mean_len < min_mean_word_len)
        | (mean_len > max_mean_word_len),
        "fail_symbol_ratio": symbol_ratio > max_symbol_ratio,
        "fail_bullet_ellipsis": (bullet_frac > max_bullet_frac)
        | (ellipsis_frac > max_ellipsis_frac),
        "fail_alpha_words": alpha_frac < min_alpha_word_frac,
        "fail_stopwords": n_req < min_required_stopwords,
    }
    keep = F.lit(True)
    for expr in fails.values():
        keep = keep & ~expr
    return docs.select(
        id_col,
        n_tok.alias("n_tokens"),
        *[expr.alias(name) for name, expr in fails.items()],
        keep.alias("keep"),
    )


def c4_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    emit_clean_text: bool = True,
) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2, public) as a
    single-scan projection: line-level retention plus page-level drop
    rules — the standard web-corpus counterpart to ``gopher_filter``
    (which scores, where this REWRITES).

    Line kept iff it ends in terminal punctuation (``. ! ? "``), has at
    least ``min_words_per_line`` words, and carries no boilerplate
    phrase (``javascript``, ``privacy policy``, ``terms of use``,
    ``cookie`` — case-insensitive).  Page dropped iff fewer than
    ``min_sentences`` kept lines, or the page contains ``lorem ipsum``
    (case-insensitive) or a curly brace.

    Output: ``(id, n_lines, n_kept_lines, fail_min_sentences,
    fail_lorem_ipsum, fail_curly_brace, keep[, clean_text])`` where
    ``clean_text`` re-joins the kept lines for surviving pages ('' on
    dropped pages, so the column is never null).  Pure projection —
    no shuffle, text column pruned after the scan; all counting is
    replace/contains-based (portable: identical in Spark and DuckDB).
    """
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )

    def _line_kept(l: Column) -> Column:
        words = F.size(F.filter(F.split(l, " "), lambda w: w != F.lit("")))
        ends = (
            l.endswith(".") | l.endswith("!") | l.endswith("?")
            | l.endswith('"')
        )
        low = F.lower(l)
        boiler = (
            low.contains("javascript")
            | low.contains("privacy policy")
            | low.contains("terms of use")
            | low.contains("cookie")
        )
        return ends & (words >= min_words_per_line) & ~boiler

    kept = F.filter(lines, _line_kept)
    n_kept = F.size(kept)
    low_all = F.lower(c)
    fail_lorem = low_all.contains("lorem ipsum")
    fail_brace = c.contains("{")
    fail_min_sent = n_kept < min_sentences
    keep = ~(fail_lorem | fail_brace | fail_min_sent)
    cols = [
        id_col,
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        fail_min_sent.alias("fail_min_sentences"),
        fail_lorem.alias("fail_lorem_ipsum"),
        fail_brace.alias("fail_curly_brace"),
        keep.alias("keep"),
    ]
    if emit_clean_text:
        cols.append(
            F.when(keep, F.array_join(kept, "\n"))
            .otherwise(F.lit(""))
            .alias("clean_text")
        )
    return docs.select(*cols)


def span_self_dedup(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document repeated n-gram span removal — the self-dedup
    counterpart of the cross-doc substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): keep
    the FIRST occurrence of every word n-gram; any token covered by a
    later occurrence of an already-seen n-gram is removed.

    Definition (token-level, deterministic): gram position p (0-based,
    p + n ≤ L) is a REPEAT iff the same n-gram string occurs at some
    earlier position of the same doc; token t is removed iff some
    repeat span [p, p+n) covers it.  Output per input doc:
    ``(doc_id, n_tokens, n_removed, text_clean)`` — surviving tokens in
    original order, space-joined; docs shorter than n tokens pass
    through unchanged.

    Scale shape at 100 TB: everything is doc-local — one projection
    builds the positional gram array (single text scan), one explode,
    one map-side-combined ``groupBy(doc, gram).min(pos)``, a join back,
    and an n-row explode of each repeat span into covered token
    indices (n is a small constant).  Keys are (doc_id, gram) and
    (doc_id, pos): partition sizes track document sizes, never corpus
    size, and no window ever sorts more than one document's tokens.
    """
    toks = tokens(text_col)
    gram_idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    base = docs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.transform(
                gram_idx,
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ).alias("pos", "gram"),
    )
    firsts = (
        base.filter(F.col("gram").isNotNull())
        .groupBy(id_col, "gram")
        .agg(F.min("pos").alias("first_pos"))
    )
    covered = (
        base.join(firsts, [id_col, "gram"])
        .filter(F.col("pos") > F.col("first_pos"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("t"),
        )
        .distinct()
    )
    tok_rows = docs.select(
        F.col(id_col), F.posexplode_outer(toks).alias("t", "tok")
    )
    kept = tok_rows.join(covered, [id_col, "t"], "left_anti")
    rebuilt = (
        kept.filter(F.col("tok").isNotNull())
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("t"), F.col("tok")))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )
    return (
        docs.select(F.col(id_col), F.size(toks).cast("long").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def backoff_lm_scores(
    docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """CCNet-style CROSS-DOMAIN LM quality scoring: a bigram
    stupid-backoff model (Brants et al. 2007) trained on ``ref_docs``
    (the trusted corpus — CCNet trains on Wikipedia) scores every doc
    in ``docs`` (the crawl) — low log-probability per transition ≈
    low-quality / out-of-domain text.  Counts replace the trained KenLM
    so everything stays deterministic and SQL-replayable.  The model
    is reference-trained with explicit OOV backoff mass — the filter
    that separates in-domain from out-of-domain text.

      P(w|v) = c(v,w) / c(v)                 if c(v,w) > 0
             = backoff · (c(w)+1)/(N+V+1)    otherwise (add-one unigram,
                                             unseen words share 1/(N+V+1))

    Tokens are the corpus convention: lowercased whitespace tokens with
    empties dropped BEFORE pairing (so the trailing-'' quirk of
    ``split(trim(.))`` can't split a bigram differently across engines).

    Scale shape: bigram/unigram count tables are map-side-combined
    groupBys over the reference; scoring pre-combines each doc's
    repeated bigrams (``groupBy(id, v, w)``) so the two count joins see
    one row per distinct (doc, bigram) — stop-word-pair skew beyond
    that is AQE skew-join territory.  Only N and V (two scalars) ever
    reach the driver.

    Returns (id, n_pairs, avg_logprob, ppl) — 0-pair docs score 0 / 1
    by convention.  avg_logprob/ppl rounded 6 for cross-engine parity.
    """
    toks = F.filter(
        F.transform(tokens(text_col), lambda w: F.lower(w)),
        lambda w: F.length(w) > 0,
    )

    uni = (
        ref_docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    row = uni.agg(
        F.coalesce(F.sum("cw"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    denom = float(row["n"] + row["v"] + 1)

    def pairs(df: DataFrame, extra: list) -> DataFrame:
        t = toks
        pr = F.arrays_zip(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))).alias("v"),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w"),
        )
        return df.select(*extra, F.explode(pr).alias("p")).select(
            *extra, F.col("p.v").alias("v"), F.col("p.w").alias("w")
        )

    bi = pairs(ref_docs, []).groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("cvw")
    )
    cv = uni.select(F.col("w").alias("v"), F.col("cw").alias("cv"))

    scored = (
        pairs(docs, [F.col(id_col)])
        .groupBy(id_col, "v", "w")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(bi, ["v", "w"], "left")
        .join(cv, "v", "left")
        .join(uni, "w", "left")
        .select(
            id_col,
            "k",
            F.when(
                F.col("cvw").isNotNull(),
                F.log(F.col("cvw").cast("double") / F.col("cv")),
            )
            .otherwise(
                F.log(
                    F.lit(backoff)
                    * (F.coalesce(F.col("cw"), F.lit(0)) + F.lit(1))
                    / F.lit(denom)
                )
            )
            .alias("lp"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_pairs"),
            (F.sum(F.col("k") * F.col("lp")) / F.sum("k")).alias("avg_lp"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.round(F.coalesce("avg_lp", F.lit(0.0)), 6).alias("avg_logprob"),
            F.round(
                F.exp(-F.coalesce("avg_lp", F.lit(0.0))), 6
            ).alias("ppl"),
        )
    )


def collocations(
    docs: DataFrame,
    k: int = 200,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` corpus collocations by PMI — adjacent word pairs that
    co-occur far more than their unigram frequencies predict (Church &
    Hanks 1990), the standard multi-word-expression miner ("new york",
    "machine learning") for vocabulary augmentation and tokenizer merge
    seeding.

      PMI(v,w) = ln( (c(v,w)/P) / ((c(v)/N)·(c(w)/N)) )

    with N total unigrams, P total bigrams, both over the lowercased
    empty-dropped token convention of ``backoff_lm_scores``.  The
    ``min_count`` guard removes the classic PMI pathology (a pair of
    two hapaxes scores the maximum).

    Scale shape: one explode each for unigram and bigram counts, both
    map-side combined; the two scalar totals broadcast as plan
    literals; ranking is orderBy+limit = per-partition TakeOrdered
    (k rows per partition cross the wire, never the full pair table).
    Output (rank, w1, w2, cnt, pmi rounded 6), rank 1..k by
    (pmi desc, w1 asc, w2 asc).
    """
    toks = F.filter(
        F.transform(tokens(text_col), lambda w: F.lower(w)),
        lambda w: F.length(w) > 0,
    )
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    pr = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("v"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w"),
    )
    bi = (
        docs.select(F.explode(pr).alias("p"))
        .select(F.col("p.v").alias("w1"), F.col("p.w").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    row = uni.agg(F.sum("cw").alias("n")).collect()[0]
    n_uni = float(row["n"] or 0)
    p_row = docs.select(
        F.coalesce(
            F.sum(F.greatest(F.size(toks) - 1, F.lit(0))), F.lit(0)
        ).alias("p")
    ).collect()[0]
    n_bi = float(p_row["p"] or 0)
    if n_uni == 0 or n_bi == 0:
        return docs.sparkSession.createDataFrame(
            [], "rank int, w1 string, w2 string, cnt long, pmi double"
        )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "cnt",
            F.log(
                (F.col("cnt") / F.lit(n_bi))
                / ((F.col("c1") / F.lit(n_uni)) * (F.col("c2") / F.lit(n_uni)))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )
    w_rank = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return scored.withColumn(
        "rank", F.row_number().over(w_rank).cast("int")
    ).select("rank", "w1", "w2", "cnt", F.round("pmi", 6).alias("pmi"))


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical diversity: Shannon entropy of the token
    distribution plus the type-token ratio — the cheap repetitiveness
    signals that complement the Gopher dup-fraction features (a doc
    that is one phrase looped scores near-zero entropy long before any
    n-gram window sees it).

      H = −Σ_t (c_t/n)·ln(c_t/n)    entropy_norm = H / ln(n_types)

    (norm is 0 when n_types ≤ 1).  Tokens are the lowercased
    empty-dropped corpus convention.  One explode + one
    map-side-combined (doc, token) count + one doc-keyed aggregation;
    empty docs keep a row with zeros.
    """
    toks = F.filter(
        F.transform(tokens(text_col), lambda w: F.lower(w)),
        lambda w: F.length(w) > 0,
    )
    counts = (
        docs.select(F.col(id_col), F.explode(toks).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # H = ln n − (Σ c·ln c)/n : one aggregation, no per-doc window
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("clc"),
    ).withColumn(
        "h",
        F.log(F.col("n_tokens").cast("double"))
        - F.col("clc") / F.col("n_tokens"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.round(
                F.coalesce(
                    F.col("n_types") / F.col("n_tokens"), F.lit(0.0)
                ),
                6,
            ).alias("type_token_ratio"),
            # + 0.0 canonicalizes the IEEE -0.0 an all-one-token doc's
            # ln n − (n·ln n)/n float residue can round to
            (F.round(F.coalesce("h", F.lit(0.0)), 6) + F.lit(0.0)).alias(
                "token_entropy"
            ),
            (
                F.round(
                    F.when(
                        F.coalesce("n_types", F.lit(0)) <= 1, F.lit(0.0)
                    ).otherwise(
                        F.col("h") / F.log(F.col("n_types").cast("double"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("entropy_norm"),
        )
    )
