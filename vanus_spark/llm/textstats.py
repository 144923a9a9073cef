"""Text analysis: language ID, quality scoring, token counting,
document fingerprinting.

All pure Column expressions — whole-stage codegen over the documents
scan, embarrassingly parallel, zero shuffle (the scan's partitioning
is the output partitioning). Every function is mirrored by an ANSI
SQL oracle in the query family modules under vanus_spark/queries/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from vanus_spark.llm.dedup import normalize_text

# stopword markers per language for the n-gram/marker heuristic.
# Deterministic + SQL-expressible (occurrence counting) by design.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "es": [" el ", " la ", " los ", " que ", " y "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "zh": ["的", "是", "了", "在", "我"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that",
]


def occurrences(c: Column, needle: str) -> Column:
    """Count occurrences of a literal substring — the portable
    (length - length(replace)) / length(needle) trick, which DuckDB
    evaluates identically."""
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def whitespace_token_count(c: Column) -> Column:
    """Whitespace tokenization count.

    Computed as spaces+1 by length arithmetic instead of
    size(split(...)): normalize_text collapses every whitespace run to
    one 0x20 and trims, so the two forms are exactly equivalent for
    ALL inputs (size(split(t,' ')) == count(' ')+1 universally for a
    single-char separator), and this form skips a per-row token-array
    allocation the count immediately discards (guide §1.2 per-task
    work). Probed equal over every SF's documents plus whitespace edge
    cases before the swap."""
    t = normalize_text(c)
    return F.when(F.length(t) == 0, F.lit(0).cast("long")).otherwise(
        (
            F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
        ).cast("long")
    )


def bpe_ish_token_count(c: Column) -> Column:
    """BPE-ish proxy: count word pieces + digits + punctuation runs
    via a regex token pattern (letters runs, digit runs, single
    non-space symbols). A real tokenizer plugs in as a pandas UDF."""
    # count matches of [A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]
    return F.size(
        F.filter(
            F.split(
                F.regexp_replace(
                    F.col(c) if isinstance(c, str) else c,
                    r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])",
                    "$1",
                ),
                "",
            ),
            lambda x: F.trim(x) != "",
        )
    ).cast("long")


def punct_ratio(c: Column) -> Column:
    no_punct = F.regexp_replace(c, r"[^\w\s]", "")
    return (
        (F.length(c) - F.length(no_punct)).cast("double")
        / F.greatest(F.length(c), F.lit(1))
    )


def stopword_ratio(c: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = F.split(normalize_text(c), " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1))


def mean_word_length(c: Column) -> Column:
    toks = F.split(normalize_text(c), " ")
    return F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(F.size(toks), F.lit(1))


def quality_score(c: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, sane word
    length, not punctuation soup. Deliberately simple + portable;
    the shape (weighted clamped signals) matches production quality
    classifiers' feature layer."""
    n_tokens = whitespace_token_count(c).cast("double")
    len_signal = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    mwl = mean_word_length(c)
    wl_signal = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_signal = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    return (len_signal * 0.4 + wl_signal * 0.3 + punct_signal * 0.3).alias("quality")


def lang_scores(c: Column) -> dict[str, Column]:
    """Marker-occurrence scores. ``c`` should be the PRE-NORMALIZED
    padded text when called in bulk (see lang_id_df) — each marker
    does a length+replace over it, so normalizing inline would
    re-run the regexp per marker."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            occ = occurrences(c, m)
            score = occ if score is None else score + occ
        out[lang] = score
    return out


def _argmax_lang(scores: dict[str, Column]) -> Column:
    # argmax via chained when() in fixed lang order; 'und' when 0 hits
    langs = sorted(scores)
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in langs:
        s = scores[lang]
        is_better = s > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best


def lang_id(c: Column) -> Column:
    """Marker-count argmax language ID over raw text; convenient but
    re-evaluates the normalize regexp per marker — prefer lang_id_df
    for bulk scoring."""
    padded = F.concat(F.lit(" "), normalize_text(c), F.lit(" "))
    return _argmax_lang(lang_scores(padded))


def lang_id_df(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Bulk language ID in THREE stacked projections:

    1. normalized padded text (the regexp runs ONCE per row),
    2. one score column per language (5 marker counts each),
    3. argmax over the 5 plain column refs (greatest + first-match).

    Catalyst's CollapseProject keeps the barriers because the staged
    expressions are non-cheap and multiply-referenced (SPARK-36718).
    The old single-expression argmax nested every score inside chained
    when()s — the generated method exceeded janino's 64KB limit and
    the whole projection silently fell back to interpreted eval
    (~5x slower); this shape compiles."""
    padded = F.concat(F.lit(" "), normalize_text(F.col(text_col)), F.lit(" "))
    staged = docs.select(F.col(id_col), padded.alias("_padded"))
    scores = lang_scores(F.col("_padded"))
    langs = sorted(scores)
    scored = staged.select(
        F.col(id_col), *[scores[lang].alias(f"_s_{lang}") for lang in langs]
    )
    max_score = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    pred = F.when(max_score <= 0, F.lit("und"))
    for lang in langs:  # first lang (sorted order) hitting the max wins ties
        pred = pred.when(F.col(f"_s_{lang}") == max_score, F.lit(lang))
    return scored.select(F.col(id_col), pred.alias("lang_pred"))


def doc_fingerprint(c: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (the rolling-hash role; cheap join key for exact dedup)."""
    return F.md5(normalize_text(c))


def text_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The full per-document analysis row.

    Staged projections: the normalize regexp, the token split, and the
    25 language-marker scores each evaluate ONCE per row and are then
    referenced as plain attributes. The single-select form re-ran the
    normalize chain ~10x per row and nested the lang argmax inside
    chained when()s, exponentially duplicating the marker counts."""
    c = F.col(text_col)
    staged = docs.select(F.col(id_col), c.alias("_raw"), normalize_text(c).alias("_norm"))
    staged = staged.select(
        F.col(id_col),
        "_raw",
        "_norm",
        F.split("_norm", " ").alias("_toks"),
        F.concat(F.lit(" "), F.col("_norm"), F.lit(" ")).alias("_padded"),
    )
    scores = lang_scores(F.col("_padded"))
    langs = sorted(scores)
    toks = F.col("_toks")
    raw = F.col("_raw")
    n_tokens = F.when(F.length("_norm") == 0, F.lit(0).cast("long")).otherwise(
        F.size(toks).cast("long")
    )
    mwl = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / F.greatest(
        F.size(toks), F.lit(1)
    )
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    featured = staged.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        bpe_ish_token_count(raw).alias("n_bpe_tokens"),
        F.length(raw).cast("long").alias("n_chars_actual"),
        F.round(punct_ratio(raw), 6).alias("punct_ratio"),
        F.round(stop_hits.cast("double") / F.greatest(F.size(toks), F.lit(1)), 6).alias(
            "stopword_ratio"
        ),
        F.round(mwl, 6).alias("mean_word_len"),
        mwl.alias("_mwl"),
        punct_ratio(raw).alias("_punct"),
        F.md5("_norm").alias("fingerprint"),
        *[scores[lang].alias(f"_s_{lang}") for lang in langs],
    )
    len_signal = F.least(F.col("n_tokens").cast("double") / F.lit(50.0), F.lit(1.0))
    wl_signal = F.when(
        (F.col("_mwl") >= 3) & (F.col("_mwl") <= 10), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    punct_signal = F.lit(1.0) - F.least(F.col("_punct") * 5, F.lit(1.0))
    max_score = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    pred = F.when(max_score <= 0, F.lit("und"))
    for lang in langs:  # first lang (sorted order) hitting the max wins ties
        pred = pred.when(F.col(f"_s_{lang}") == max_score, F.lit(lang))
    return featured.select(
        F.col(id_col),
        "n_tokens",
        "n_bpe_tokens",
        "n_chars_actual",
        "punct_ratio",
        "stopword_ratio",
        "mean_word_len",
        F.round(len_signal * 0.4 + wl_signal * 0.3 + punct_signal * 0.3, 6).alias(
            "quality"
        ),
        pred.alias("lang_pred"),
        "fingerprint",
    )


def readability(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document — the
    classic readability pair corpus-quality stacks keep next to the
    Gopher flags (templated/low-grade text clusters at the extremes).

    Heuristics chosen to be regex-countable on ANY engine (no
    dictionary): words = non-space runs, sentences = [.!?]+ runs
    (min 1), syllables = [aeiouy]+ vowel-group runs of the lowercased
    text (the standard dictionary-free approximation). Both scores
    are fixed-order double expressions over three integer counts —
    pure Columns, zero shuffle, one scan.
    """
    t = F.col(text_col)
    words = F.regexp_count(t, F.lit(r"\S+")).cast("long")
    sents = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")).cast("long"), F.lit(1).cast("long")
    )
    syll = F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast("long")
    w = F.greatest(words, F.lit(1).cast("long")).cast("double")
    wps = words.cast("double") / sents.cast("double")
    spw = syll.cast("double") / w
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return docs.select(
        id_col,
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
        F.round(fk, 6).alias("fk_grade"),
    )
