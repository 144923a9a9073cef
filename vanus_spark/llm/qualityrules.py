"""Repetition/structure quality rules for corpus filtering.

The rule families a production training-data pipeline applies before
training (cf. the published Gopher/MassiveText and C4 filtering
rules; reference repo has no counterpart — these are part of the
LLM-pipeline surface this engine adds):

- per-document structural flags (word counts, symbol ratios, bullet/
  ellipsis lines, within-document duplicate lines): pure Column
  expressions, zero shuffle, whole-stage codegen over the scan.
- top-n-gram concentration (the "most common 2-gram fraction" rule):
  explode -> two partial aggregations; shuffle is #(doc, distinct
  gram) then #docs — the scale shape, never a per-row O(d²) mode.
- corpus-level line dedup (the C4 "remove any line that appears
  verbatim elsewhere" rule): line-hash groupBy across the WHOLE
  corpus (map-side combine => shuffle ~#distinct lines), join back,
  order-preserving reconstruction of the cleaned text.

Everything is engine-portable (md5 hashing, plain string/array ops)
so each operator has a DuckDB oracle twin in the query family modules
under vanus_spark/queries/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from vanus_spark.llm.dedup import bound, normalize_text
from vanus_spark.operators.parallelism import repartition_for_compute

LINE_SEP = "\n"


def _lines(c: Column) -> Column:
    return F.split(c, LINE_SEP)


def _words(c: Column) -> Column:
    return F.split(normalize_text(c), " ")


def word_ngrams(c: Column, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity (unlike dedup.shingles, which
    deduplicates) — repetition rules need the counts."""
    # tokens are lambda-bound (see dedup.bound) so the normalize+split
    # chain runs once per row, not once per gram index
    return bound(
        _words(c),
        lambda tk: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tk) - F.lit(n), F.lit(0))),
            lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
        ),
    )


def gopher_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    max_symbol_ratio: float = 0.1,
    max_bullet_fraction: float = 0.9,
    max_ellipsis_fraction: float = 0.3,
    min_alpha_fraction: float = 0.8,
    max_dup_line_fraction: float = 0.3,
) -> DataFrame:
    """Per-document structural quality metrics + keep flag.

    Two stacked projections: the word/line arrays materialize once,
    every metric is then a cheap array expression over them (the
    two-step select keeps CollapseProject from re-inlining the split
    chains per metric). Zero shuffle at any scale."""
    staged = docs.select(
        F.col(id_col),
        _words(F.col(text_col)).alias("_w"),
        _lines(F.col(text_col)).alias("_l"),
        normalize_text(F.col(text_col)).alias("_nt"),
    )
    w, lines, nt = F.col("_w"), F.col("_l"), F.col("_nt")
    n_words = F.size(w).cast("long")
    n_lines = F.size(lines).cast("long")
    # '#' and '...' counts over the whole normalized text equal the
    # per-word sums (words are single-space separated, so a '...' run
    # never spans a word boundary) — four flat string ops per row
    # instead of a higher-order aggregate running two regex splits per
    # word
    symbols = (
        (F.length(nt) - F.length(F.replace(nt, F.lit("#"), F.lit(""))))
        + (F.length(nt) - F.length(F.replace(nt, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    alpha_words = F.size(F.filter(w, lambda t: t.rlike("[a-z]")))
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.rtrim(l).rlike("\\.\\.\\.$")))
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    metrics = staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        F.round(symbols / F.greatest(n_words, F.lit(1)), 6).alias("symbol_word_ratio"),
        F.round(alpha_words / F.greatest(n_words, F.lit(1)), 6).alias("alpha_word_fraction"),
        F.round(bullet_lines / F.greatest(n_lines, F.lit(1)), 6).alias("bullet_line_fraction"),
        F.round(ellipsis_lines / F.greatest(n_lines, F.lit(1)), 6).alias("ellipsis_line_fraction"),
        F.round(dup_lines / F.greatest(n_lines, F.lit(1)), 6).alias("dup_line_fraction"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_fraction") <= max_bullet_fraction)
        & (F.col("ellipsis_line_fraction") <= max_ellipsis_fraction)
        & (F.col("alpha_word_fraction") >= min_alpha_fraction)
        & (F.col("dup_line_fraction") <= max_dup_line_fraction)
    )
    return metrics.withColumn("keep", keep)


def top_ngram_stats(
    docs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_grams, top_gram_count, top_gram_fraction): how much of
    the document is its single most common word n-gram (Gopher's
    repetition rule). explode -> count per (doc, gram) -> max per doc:
    both aggregations partial-combine map-side, so the shuffles are
    #(doc, distinct gram) rows then #docs rows — never a per-row
    O(d²) mode computation."""
    docs = repartition_for_compute(docs, id_col)
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.max("c").cast("long").alias("top_gram_count"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "top_gram_count",
            F.round(
                F.col("top_gram_count") / F.greatest(F.col("n_grams"), F.lit(1)), 6
            ).alias("top_gram_fraction"),
        )
    )


def line_dedup(
    docs: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style corpus-level line dedup: a line whose normalized form
    appears >= ``min_count`` times ACROSS THE CORPUS is boilerplate;
    the cleaned text keeps the remaining lines in original order.

    Returns (id, n_lines, n_boilerplate_lines, boilerplate_fraction,
    clean_text).

    Shape: posexplode lines -> md5 line key -> corpus-wide count per
    key (map-side combine => shuffle ~#distinct lines) -> shuffle
    join back on the key -> per-doc rebuild via sort_array over
    (pos, line) structs. No broadcast of the line table (it scales
    with the corpus); AQE handles the join's skew (empty/common
    lines are hot keys)."""
    docs = repartition_for_compute(docs, id_col)
    lines = docs.select(
        F.col(id_col),
        F.posexplode(_lines(F.col(text_col))).alias("pos", "line"),
    ).withColumn("line_key", F.md5(normalize_text(F.col("line"))))
    counts = lines.groupBy("line_key").agg(F.count("*").alias("n_occurrences"))
    tagged = lines.join(counts, "line_key").withColumn(
        "is_boilerplate", F.col("n_occurrences") >= min_count
    )
    rebuilt = tagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("is_boilerplate").cast("long")).cast("long").alias(
            "n_boilerplate_lines"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_boilerplate"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s.getField("line"),
            ),
            LINE_SEP,
        ).alias("clean_text"),
    )
    return rebuilt.select(
        F.col(id_col),
        "n_lines",
        "n_boilerplate_lines",
        F.round(
            F.col("n_boilerplate_lines") / F.greatest(F.col("n_lines"), F.lit(1)), 6
        ).alias("boilerplate_fraction"),
        "clean_text",
    )


# ---------------------------------------------------------------------------
# unigram language-model scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

def unigram_model(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(tok, tok_count): corpus-wide unigram counts — the trainable
    half of a perplexity-style quality filter. One explode + one
    partial-agg groupBy (shuffle ~#distinct tokens); at 100 TB this
    is a stored model table, re-trained per corpus snapshot."""
    toks = docs.select(F.explode(_words(F.col(text_col))).alias("tok"))
    return toks.groupBy("tok").agg(F.count("*").alias("tok_count"))


def unigram_score(
    docs: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram LM scores against ``model_df`` (trained on
    ``docs`` itself when omitted — the classic self-perplexity corpus
    filter; unusually-worded documents score low):

    - ``avg_tok_prob``: mean corpus probability of the doc's tokens
      (integer-sum derived — engine-exact)
    - ``avg_logprob``: mean ln p(token) — the log-perplexity proxy
    - ``oov_count``: tokens absent from the model (0 when self-trained)

    Shape: explode -> shuffle join tokens to the model (AQE handles
    the head-word skew) -> per-doc partial agg. The 1-row total
    broadcasts; nothing else leaves its key partitioning."""
    vocab = model_df if model_df is not None else unigram_model(docs, text_col, id_col)
    total = vocab.agg(F.sum("tok_count").alias("_total"))
    toks = docs.select(F.col(id_col), F.explode(_words(F.col(text_col))).alias("tok"))
    joined = toks.join(vocab, "tok", "left").crossJoin(F.broadcast(total))
    n = F.count("*")
    return joined.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("tok_count").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("oov_count"),
        (
            F.sum(F.coalesce(F.col("tok_count"), F.lit(0))).cast("double")
            / (n * F.first("_total"))
        ).alias("avg_tok_prob"),
        # avg(ln(c/T)) = avg(ln(c)) - ln(T): T is constant, and Spark
        # rejects first(T) nested inside avg()
        (
            F.avg(
                F.log(
                    F.greatest(
                        F.coalesce(F.col("tok_count"), F.lit(0)), F.lit(1)
                    ).cast("double")
                )
            )
            - F.log(F.first("_total").cast("double"))
        ).alias("avg_logprob"),
    )


def bigram_model(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(prev, tok, big_count): corpus-wide bigram counts over adjacent
    word pairs WITHIN each document. Same shape as unigram_model: one
    explode + one partial-agg groupBy; at 100 TB a stored model table."""
    def pairs_of(w: Column) -> Column:
        n = F.size(w)
        return F.zip_with(
            F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("prev"), b.alias("tok")),
        )

    bg = docs.select(
        F.explode(bound(_words(F.col(text_col)), pairs_of)).alias("bg")
    )
    return bg.select("bg.prev", "bg.tok").groupBy("prev", "tok").agg(
        F.count("*").alias("big_count")
    )


def bigram_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    uni_df: DataFrame | None = None,
    big_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document backoff-bigram LM score (the KenLM-style corpus
    quality filter, one order up from unigram_score): for each
    adjacent pair, p = big_count/prev_count when the bigram is in the
    model, else the stupid-backoff alpha * unigram p(tok). Returns
    (id, n_bigrams, backoff_count, avg_logprob2).

    Self-trained on ``docs`` (the self-perplexity filter: documents
    whose word TRANSITIONS are unusual for the corpus score low even
    when every individual word is common). Shape: explode pairs ->
    three key joins against the model tables (bigram, prev-unigram,
    tok-unigram — AQE handles head-word skew) -> per-doc partial agg;
    the 1-row total broadcasts. Pass ``uni_df``/``big_df`` to score
    against a model trained elsewhere (e.g. on a held-out snapshot) —
    then unseen transitions actually take the backoff branch."""
    uni = uni_df if uni_df is not None else unigram_model(docs, text_col, id_col)
    big = big_df if big_df is not None else bigram_model(docs, text_col)
    total = uni.agg(F.sum("tok_count").alias("_total"))

    def pairs_of(w: Column) -> Column:
        n = F.size(w)
        return F.zip_with(
            F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("prev"), b.alias("tok")),
        )

    pairs = docs.select(
        F.col(id_col), F.explode(bound(_words(F.col(text_col)), pairs_of)).alias("bg")
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.tok").alias("tok"))
    prev_counts = uni.select(
        F.col("tok").alias("prev"), F.col("tok_count").alias("prev_count")
    )
    j = (
        pairs.join(big, ["prev", "tok"], "left")
        .join(prev_counts, "prev", "left")
        .join(uni, "tok", "left")
        .crossJoin(F.broadcast(total))
    )
    p = F.when(
        F.col("big_count").isNotNull(),
        F.col("big_count").cast("double") / F.col("prev_count"),
    ).otherwise(
        # OOV tok floors at count 1 (like unigram_score) so a held-out
        # model never produces ln(0)
        F.lit(alpha)
        * F.greatest(F.coalesce(F.col("tok_count"), F.lit(0)), F.lit(1)).cast("double")
        / F.col("_total")
    )
    return j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("big_count").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("backoff_count"),
        F.avg(F.log(p)).alias("avg_logprob2"),
    )


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    drop_markers: tuple[str, ...] = ("lorem ipsum", "javascript", "{"),
) -> DataFrame:
    """C4's line-level structural cleaning (Raffel et al. 2020, the
    C4 recipe): keep only lines that (a) have at least ``min_words``
    words, (b) end in terminal punctuation (. ! ? ") when required,
    and (c) contain none of the ``drop_markers`` (case-insensitive).
    Documents whose every line is dropped disappear entirely.

    Returns (id, text, n_lines_in, n_lines_kept) with ``text``
    rebuilt from the surviving lines. Pure Columns: one filter over
    the line array per row, zero shuffle at any scale."""
    lines = _lines(F.col(text_col))

    def keep(l: Column) -> Column:
        low = F.lower(F.trim(l))
        cond = F.size(F.split(F.trim(l), r"\s+")) >= min_words
        if require_terminal_punct:
            cond = cond & low.rlike('[.!?"]$')
        for m in drop_markers:
            cond = cond & ~low.contains(m.lower())
        return cond

    kept = bound(lines, lambda ls: F.filter(ls, keep))
    staged = docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines_in"),
        kept.alias("_kept"),
    )
    return (
        staged.where(F.size("_kept") > 0)
        .select(
            id_col,
            F.array_join("_kept", "\n").alias(text_col),
            "n_lines_in",
            F.size("_kept").cast("long").alias("n_lines_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Naive-Bayes text classifier (model-based quality / domain filtering)
# ---------------------------------------------------------------------------

def nb_train(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Train a binomial Naive-Bayes word model (the CCNet/fastText
    style model-based corpus filter: train on a labeled seed set,
    score the whole corpus). ``label_col`` is 0/1.

    Returns (word_df, stats_df):
    - word_df: (tok, pos_c, neg_c) per-class INTEGER counts — the
      model stays integer-valued so storing/re-deriving it is
      engine-exact; log-odds are computed at score time.
    - stats_df: 1 row (n_pos_docs, n_neg_docs, t_pos, t_neg, vocab)
      — class priors and smoothing denominators.

    Shape: one explode + one partial-agg groupBy(tok) (shuffle
    ~#distinct tokens) + a 1-row total. At 100 TB the seed set is
    small by construction; word_df is a stored model table."""
    lab = F.col(label_col).cast("int")
    tk = labeled.select(
        lab.alias("_y"), F.explode(_words(F.col(text_col))).alias("tok")
    )
    word_df = tk.groupBy("tok").agg(
        F.sum("_y").cast("long").alias("pos_c"),
        F.sum(1 - F.col("_y")).cast("long").alias("neg_c"),
    )
    docs_per_class = labeled.agg(
        F.sum(lab).cast("long").alias("n_pos_docs"),
        F.sum(1 - lab).cast("long").alias("n_neg_docs"),
    )
    token_stats = word_df.agg(
        F.sum("pos_c").alias("t_pos"),
        F.sum("neg_c").alias("t_neg"),
        F.count("*").alias("vocab"),
    )
    # explicit broadcast: both sides are 1-row aggregates, but Catalyst
    # sizes an Aggregate from its CHILD (the exploded token table), so
    # the unhinted cross join can flip to CartesianProduct when the
    # child's stats resolve large (order-dependent plan-audit flake)
    stats_df = docs_per_class.crossJoin(F.broadcast(token_stats))
    return word_df, stats_df


def nb_score(
    docs: DataFrame,
    word_df: DataFrame,
    stats_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, score, pred): add-1-smoothed NB log-odds score.

    score = ln(N1/N0)
          + sum_tok [ln(pos_c+1) - ln(neg_c+1)]
          + n_tokens * [ln(T0+V) - ln(T1+V)]

    (the per-token smoothing denominators factor out of the sum, so
    an out-of-vocabulary token contributes exactly the constant
    term). pred = score > 0. Shape: explode -> left join to the model
    (shuffle ~#tokens; AQE absorbs head-word skew) -> per-doc partial
    agg; stats broadcast as a 1-row cross join."""
    tk = docs.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("tok")
    )
    joined = tk.join(word_df, "tok", "left").crossJoin(F.broadcast(stats_df))
    n = F.count("*")
    per_tok = F.log(F.coalesce(F.col("pos_c"), F.lit(0)) + 1.0) - F.log(
        F.coalesce(F.col("neg_c"), F.lit(0)) + 1.0
    )
    prior = F.log(F.first("n_pos_docs").cast("double")) - F.log(
        F.first("n_neg_docs").cast("double")
    )
    oov_term = F.log((F.first("t_neg") + F.first("vocab")).cast("double")) - F.log(
        (F.first("t_pos") + F.first("vocab")).cast("double")
    )
    score = prior + F.sum(per_tok) + n * oov_term
    return joined.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.round(score, 6).alias("score"),
    ).select(
        id_col,
        "n_tokens",
        "score",
        (F.col("score") > 0).alias("pred"),
    )


def intra_doc_line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document repeated-line removal (the RefinedWeb
    line-level repetition cleaner; complements ``line_dedup``'s
    corpus-level pass): every line keeps only its FIRST occurrence
    inside its own document (by normalized form); later repeats drop.

    Returns (id, n_lines, n_repeated_lines, clean_text).

    Pure Columns, zero shuffle at any scale: the first-occurrence
    scan is a per-row array fold (aggregate over the line array
    carrying the set of seen line keys), never an explode+window.
    The fold's seen-set lookup is linear in distinct lines, so the
    per-doc cost is O(L^2) worst case — the right trade for real
    documents (10^2-10^4 lines); a pathological 10^6-line doc should
    go through the corpus-level line_dedup (shuffle-based) instead."""
    lines = _lines(F.col(text_col))

    def first_occurrences(ls: Column) -> Column:
        # fold: acc = struct(seen map, kept lines); a line is kept iff
        # its normalized form is not yet in seen
        return F.aggregate(
            ls,
            F.struct(
                F.create_map().cast("map<string,boolean>").alias("seen"),
                F.array().cast("array<string>").alias("kept"),
            ),
            lambda acc, l: F.struct(
                F.map_concat(
                    acc["seen"],
                    F.when(
                        F.isnull(
                            F.element_at(acc["seen"], normalize_text(l))
                        ),
                        F.create_map(normalize_text(l), F.lit(True)),
                    ).otherwise(F.create_map().cast("map<string,boolean>")),
                ).alias("seen"),
                F.when(
                    F.isnull(F.element_at(acc["seen"], normalize_text(l))),
                    F.concat(acc["kept"], F.array(l)),
                ).otherwise(acc["kept"]).alias("kept"),
            ),
            lambda acc: acc["kept"],
        )

    staged = docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        bound(lines, first_occurrences).alias("_kept"),
    )
    return staged.select(
        id_col,
        "n_lines",
        (F.col("n_lines") - F.size("_kept")).cast("long").alias(
            "n_repeated_lines"
        ),
        F.array_join("_kept", "\n").alias("clean_text"),
    )


def chi2_tokens(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Chi-square token/label association — the feature-selection pass
    that picks the vocabulary for a model-based corpus filter (the
    companion to nb_train: train the NB filter on the top-chi2 tokens
    instead of the full vocab).

    Per token, the 2x2 document-presence contingency table
    (a = positive docs containing it, b = positive docs without,
    c/d likewise for negatives) and
    chi2 = N * (a*d - b*c)^2 / ((a+b)(c+d)(a+c)(b+d)).

    Engine-exact by construction: every count is an integer, the
    numerator and denominator are assembled as EXACT decimal(38,0)
    integer products, and the single final division is one double op
    on the exactly-cast operands, identical on every IEEE-754 engine;
    the emitted statistic is rounded after that.

    Headroom: the numerator N*(ad-bc)^2 grows ~n^5/16 in the worst
    case, so decimal(38,0) is exact to roughly n ~ 4*10^7 labeled
    docs — plenty for a labeled SEED set (small by construction in
    the CCNet pattern), NOT for scoring an unlabeled 10^9-doc corpus.
    Past that, Spark decimal overflow yields NULL (silently dropping
    the largest-chi2 tokens) while a HUGEINT engine errors; if you
    need chi2 over >10^7 labeled docs, compute the statistic in
    double from the start and accept ~1-ulp cross-engine drift.

    Shape: explode -> distinct(doc, tok) -> one groupBy(tok) partial
    aggregate (shuffle ~#distinct tokens) + a broadcast 1-row total;
    top-k is a bounded TakeOrdered. No collect of the vocabulary.
    """
    lab = F.col(label_col).cast("long")
    totals = labeled.agg(
        F.sum(lab).alias("n_pos"), F.sum(1 - lab).alias("n_neg")
    )
    presence = (
        labeled.select(
            F.col(id_col).alias("_doc"),
            lab.alias("_y"),
            F.explode(F.array_distinct(_words(F.col(text_col)))).alias("tok"),
        )
        .groupBy("tok")
        .agg(
            F.sum("_y").alias("df_pos"),
            F.sum(1 - F.col("_y")).alias("df_neg"),
        )
    )
    dec = "decimal(38,0)"
    a = F.col("df_pos").cast(dec)
    c = F.col("df_neg").cast(dec)
    b = F.col("n_pos").cast(dec) - a
    d = F.col("n_neg").cast(dec) - c
    n = (F.col("n_pos") + F.col("n_neg")).cast(dec)
    diff = (a * d - b * c).cast(dec)
    num = (n * diff).cast(dec) * diff
    den = ((a + b) * (c + d)).cast(dec) * ((a + c) * (b + d)).cast(dec)
    num = num.cast(dec).cast("double")
    den = den.cast(dec).cast("double")
    scored = (
        presence.crossJoin(F.broadcast(totals))
        .withColumn("chi2", F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0)))
        .select("tok", "df_pos", "df_neg", "chi2")
    )
    return scored.orderBy(F.desc("chi2"), F.asc("tok")).limit(k)


def compression_signal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    repetitive_below: float = 0.4,
) -> DataFrame:
    """Compression-ratio quality signal: zlib(level)'s compressed size
    over the UTF-8 byte length. Highly repetitive / templated text
    compresses far below natural prose, so a low ratio is a cheap,
    tokenizer-free repetition flag (the signal several published
    corpus-filtering stacks use alongside the Gopher rules).

    The compressor is inherently imperative, so this is a pandas-UDF
    seam — one Arrow-batched pass over the scan, zero shuffle, and
    only the two INTEGER lengths leave the UDF; the ratio itself is
    one engine-exact double division over them. DEFLATE output for a
    fixed level is deterministic only per zlib BUILD (different zlib
    versions may emit different sizes), so this signal is gated by
    tests/test_qualityrules.py computing the expected sizes with the
    SAME interpreter's zlib — not by a cross-engine SQL oracle.
    """
    import pandas as pd

    # no type hints: module-level `from __future__ import annotations`
    # stringifies them, and the locally-imported `pd` is unresolvable at
    # decoration time — SCALAR is the default eval type anyway
    @F.pandas_udf("long")
    def _clen(s):
        import zlib

        return pd.Series(
            [
                len(zlib.compress(x.encode("utf-8"), level)) if x is not None else None
                for x in s
            ],
            dtype="int64",
        )

    blen = F.length(F.col(text_col).cast("binary")).cast("long")
    out = docs.select(
        F.col(id_col),
        blen.alias("orig_bytes"),
        _clen(F.col(text_col)).alias("compressed_bytes"),
    )
    ratio = F.round(
        F.col("compressed_bytes")
        / F.greatest(F.col("orig_bytes"), F.lit(1)).cast("double"),
        6,
    )
    return out.select(
        id_col,
        "orig_bytes",
        "compressed_bytes",
        ratio.alias("compression_ratio"),
        (ratio < repetitive_below).alias("repetitive"),
    )


def gopher_drop_reason(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds,
) -> DataFrame:
    """Per-document drop-reason lineage: the FIRST failing Gopher rule
    in a fixed precedence (word bounds, symbol ratio, bullet, ellipsis,
    alpha fraction, duplicate lines), else 'kept'. The per-doc 'WHY was
    this dropped' record a corpus pipeline keeps next to the funnel's
    aggregate counts — same pure-Column metrics as gopher_flags, one
    CASE on top, zero shuffle."""
    min_words = thresholds.pop("min_words", 50)
    max_words = thresholds.pop("max_words", 100_000)
    max_symbol_ratio = thresholds.pop("max_symbol_ratio", 0.1)
    max_bullet_fraction = thresholds.pop("max_bullet_fraction", 0.9)
    max_ellipsis_fraction = thresholds.pop("max_ellipsis_fraction", 0.3)
    min_alpha_fraction = thresholds.pop("min_alpha_fraction", 0.8)
    max_dup_line_fraction = thresholds.pop("max_dup_line_fraction", 0.3)
    if thresholds:
        raise TypeError(f"unknown thresholds: {sorted(thresholds)}")
    m = gopher_flags(
        docs,
        text_col=text_col,
        id_col=id_col,
        min_words=min_words,
        max_words=max_words,
        max_symbol_ratio=max_symbol_ratio,
        max_bullet_fraction=max_bullet_fraction,
        max_ellipsis_fraction=max_ellipsis_fraction,
        min_alpha_fraction=min_alpha_fraction,
        max_dup_line_fraction=max_dup_line_fraction,
    )
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_few_words"))
        .when(F.col("n_words") > max_words, F.lit("too_many_words"))
        .when(F.col("symbol_word_ratio") > max_symbol_ratio, F.lit("symbol_ratio"))
        .when(
            F.col("bullet_line_fraction") > max_bullet_fraction, F.lit("bullet_lines")
        )
        .when(
            F.col("ellipsis_line_fraction") > max_ellipsis_fraction,
            F.lit("ellipsis_lines"),
        )
        .when(
            F.col("alpha_word_fraction") < min_alpha_fraction, F.lit("alpha_fraction")
        )
        .when(F.col("dup_line_fraction") > max_dup_line_fraction, F.lit("dup_lines"))
        .otherwise(F.lit("kept"))
    )
    return m.select(id_col, reason.alias("drop_reason"), "keep")
