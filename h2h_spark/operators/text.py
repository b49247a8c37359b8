"""Text-analysis operators (engine extension, SURVEY.md §2.3 E4): token
statistics, quality scoring, language ID, document fingerprinting.

Everything is built-in ``pyspark.sql.functions`` — whole-stage-codegen'd,
no Python in the hot path.  Each operator has an exact ANSI-SQL twin (the
DuckDB oracles in ``__spark_entry__``), which is also the portability
story: these run unchanged on any Spark cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cache_scope
from h2h_spark.operators.dedup import tokens

# Small per-language marker lexicons for the n-gram/stopword language-ID
# heuristic.  Deliberately tiny and deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "dans"],
    "es": ["el", "los", "las", "es", "una", "que", "en", "por"],
    "zh": ["de", "shi", "bu", "le", "wo", "zai", "you", "ren"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "this"]


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# PII patterns kept RE2-compatible (no lookaround/backrefs) so the DuckDB
# oracle applies the IDENTICAL regexes; applied in this exact order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d() -]{7,}\d", "<PHONE>"),
]


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails / IPv4s / phone numbers: ``(id, scrubbed, n_email,
    n_ipv4, n_phone)`` — the privacy pass of a training-data pipeline.
    Pure JVM regex expressions (scan-speed); patterns and application
    order are engine-portable by construction (RE2-safe), so the oracle
    re-derives the scrubbed text exactly."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.regexp_count(scrubbed, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(
        F.col(id_col), *counts, scrubbed.alias("scrubbed")
    )


def repetition_score(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """``(id, n_grams, n_uniq_grams, repetition)`` — the repeated-n-gram
    ratio (1 - distinct/total word k-grams), the classic boilerplate /
    degenerate-text quality signal.  Pure JVM expressions, one projection.
    Documents with < k tokens score 0 (nothing can repeat)."""
    # Materialize the token array before the gram expression references it
    # (the 8× Catalyst inlining trap — see dedup.shingles_from_tokens).
    toks = F.col("__t")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    out = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
        .select("id", grams.alias("__g"))
    )
    n = F.size("__g").cast("bigint")
    u = F.size(F.array_distinct("__g")).cast("bigint")
    return out.select(
        F.col("id").alias(id_col),
        n.alias("n_grams"),
        u.alias("n_uniq_grams"),
        F.round(1.0 - u.cast("double") / n, 4).alias("repetition"),
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing >=
    ``min_overlap`` distinct word ``ngram``-grams with ANY eval document —
    ``(id, n_overlap)``.

    The eval side is tiny by nature (benchmarks are thousands of rows, not
    billions): its distinct shingle set broadcasts, so the scan over 100 TB
    of training text is one filter-after-projection with NO shuffle of the
    corpus — the groupBy aggregates only the matching (doc, shingle) pairs.
    """
    from h2h_spark.operators.dedup import shingle_sets

    # each (id, shingles) table is checkpointed: the checkpoint is the
    # evaluation barrier that keeps the shingle expression out of the
    # explode generator — a generator child this complex evaluates
    # interpreted (outside whole-stage codegen), measured ~4× slower than
    # the codegen'd projection the barrier preserves.  A checkpoint, not
    # a cache: its storage belongs to the lazily returned frame.
    def _sets(df: DataFrame) -> DataFrame:
        return shingle_sets(df, id_col, text_col, ngram).localCheckpoint(
            eager=False
        )

    ev = _sets(eval_set).select(F.explode("sh").alias("shingle")).distinct()
    tr = _sets(train).select("id", F.explode("sh").alias("shingle"))
    hits = tr.join(F.broadcast(ev), "shingle")
    return (
        hits.groupBy("id")
        .agg(F.count_distinct("shingle").cast("bigint").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_overlap")
    )


# BPE-ish pretokenizer: letter runs, digit runs, punctuation runs (each
# with an optional leading space), then remaining whitespace — the GPT-2
# pattern minus its lookahead/contraction clauses, which RE2-style engines
# (the DuckDB oracle) cannot express.  A deterministic proxy for "how many
# BPE tokens will this cost", computable engine-side at scan speed.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document stats: chars, tokens, distinct tokens, mean token
    length, stopword ratio — the quality-scoring feature set."""
    # Materialize the token array once — five references to an inline
    # split/filter expression would each re-run the tokenizer (measured 8×
    # slowdown in the dedup operators, same trap here).
    base = df.select(
        F.col(id_col), F.length(text_col).cast("long").alias("n_chars"),
        tokens(text_col).alias("__toks"),
    )
    toks = F.col("__toks")
    n_tokens = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS_EN)))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return base.select(
        F.col(id_col),
        F.col("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.round(total_len / n_tokens, 4).alias("avg_token_len"),
        F.round(stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite 0-1 quality score: length in a sane band, lexical
    diversity, some stopword presence (word-salad detector)."""
    s = token_stats(df, id_col, text_col)
    len_ok = F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 10000), 1.0).otherwise(0.3)
    diversity = F.least(
        F.col("n_uniq_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)), F.lit(1.0)
    )
    stop_ok = F.when(F.col("stopword_ratio").between(0.01, 0.7), 1.0).otherwise(0.5)
    return s.select(
        id_col,
        F.round((len_ok * 0.3 + diversity * 0.4 + stop_ok * 0.3), 4).alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language ID: score = count of marker-token hits per
    language; argmax with deterministic alphabetical tiebreak, 'und' when
    nothing matches."""
    base = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    scores = [
        F.size(F.filter(toks, lambda x: x.isin(*markers))).alias(f"s_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = base.select(F.col(id_col), *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{l}") for l in langs])
    pred = F.lit("und")
    # First (alphabetical) language achieving the max wins — build the
    # CASE from the end so earlier WHENs take precedence.
    for l in reversed(langs):
        pred = F.when((best > 0) & (F.col(f"s_{l}") == best), F.lit(l)).otherwise(pred)
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


GOPHER_BULLETS = ("- ", "* ", "• ")


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style document-quality rule set (Rae et al. 2021 §A1.1, the
    standard pretraining filter): per-document word count, mean word
    length, symbol-to-word ratio, bullet-line / ellipsis-line fractions,
    alphabetic-word ratio, and the composite ``keep`` verdict.

    Words are whitespace-split (not the alnum tokenizer — Gopher counts
    punctuation-bearing words as words); lines split on ``\\n``.  Pure JVM
    expressions, one projection over the scan — filter-at-scan-speed at
    100 TB.  Ratios round to 4 digits; empty documents fail ``keep``.
    """
    base = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != F.lit("")).alias("__w"),
        F.filter(
            F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
            lambda l: l != F.lit(""),
        ).alias("__l"),
    )
    w, lines = F.col("__w"), F.col("__l")
    n_words = F.size(w).cast("bigint")
    total_len = F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    mean_len = F.round(total_len / F.greatest(n_words, F.lit(1)), 4)
    n_symbol = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda a, x: a
        + F.when(x.contains("#") | x.contains("…") | x.contains("..."), 1).otherwise(0),
    )
    symbol_ratio = F.round(n_symbol / F.greatest(n_words, F.lit(1)), 4)
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith(GOPHER_BULLETS[0])
            | l.startswith(GOPHER_BULLETS[1])
            | l.startswith(GOPHER_BULLETS[2]),
        )
    )
    ellipsis = F.size(F.filter(lines, lambda l: l.endswith("...") | l.endswith("…")))
    bullet_frac = F.round(bullet / F.greatest(n_lines, F.lit(1)), 4)
    ellipsis_frac = F.round(ellipsis / F.greatest(n_lines, F.lit(1)), 4)
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = F.round(n_alpha / F.greatest(n_words, F.lit(1)), 4)
    keep = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_len >= 3)
        & (mean_len <= 10)
        & (symbol_ratio < 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_ratio > 0.8)
    )
    return base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_ratio.alias("alpha_ratio"),
        keep.alias("keep"),
    )


def top_ngrams(
    df: DataFrame, text_col: str, *, n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word ``n``-grams: ``(gram, cnt)``, count-desc with
    a deterministic gram-asc tiebreak.  One explode + one groupBy — the
    groupBy gets map-side partial aggregation for free, so the shuffle
    carries (distinct gram, partial count), not the corpus.  The final
    top-k is a single ``orderBy().limit()`` (Spark's TakeOrdered — no full
    sort materialization)."""
    base = df.select(tokens(text_col).alias("__t")).filter(F.size("__t") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__t") - (n - 1)),
        lambda i: F.array_join(F.slice("__t", i, n), " "),
    )
    return (
        base.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-length chunking stage of a training pipeline: ``(id, chunk_id,
    n_tokens, chunk_text)``.

    Chunk ``j`` covers tokens ``[j*stride+1, j*stride+window]`` (1-based);
    the number of chunks is ``1 + ceil(max(n-window,0)/stride)`` so every
    token lands in >=1 chunk and a short document yields exactly one.
    Integer-arithmetic ceiling keeps it exactly SQL-portable.  The
    explode multiplies rows ~``n/stride``-fold but carries only the chunk
    text — no full-document duplication per chunk."""
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    base = base.filter(F.size("__t") >= 1)
    n = F.size("__t")
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - window, F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)
        )
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.struct(
            j.cast("int").alias("cid"),
            F.least(F.lit(window), n - j * stride).cast("bigint").alias("ntok"),
            F.array_join(F.slice("__t", j * stride + 1, window), " ").alias("txt"),
        ),
    )
    return base.select("id", F.explode(chunks).alias("c")).select(
        F.col("id").alias(id_col),
        F.col("c.cid").alias("chunk_id"),
        F.col("c.ntok").alias("n_tokens"),
        F.col("c.txt").alias("chunk_text"),
    )


def span_duplication(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    span: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span scoring (boilerplate detection —
    the inter-document repetition signal behind C4/RefinedWeb line-dedup):
    split each document into non-overlapping ``span``-token windows,
    count in how many distinct documents each span occurs, and report
    per document the fraction of its spans that appear in >= ``min_docs``
    documents: ``(id, n_spans, n_dup_spans, dup_fraction)``.

    Spans travel as md5 hashes, not text, so the two shuffles (span
    frequency, per-doc rollup) and the frequency join carry 32-byte keys
    — at 100 TB the span-frequency table is the only corpus-sized
    intermediate and it aggregates map-side first."""
    spans = chunk_documents(
        df, id_col, text_col, window=span, stride=span
    ).select(F.col(id_col).alias("id"), F.md5(F.col("chunk_text")).alias("sh"))
    freq = spans.groupBy("sh").agg(
        F.count_distinct("id").alias("ndocs")
    )
    joined = spans.join(freq, "sh")
    return (
        joined.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum((F.col("ndocs") >= min_docs).cast("long")).alias("n_dup_spans"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            F.col("n_dup_spans").cast("bigint").alias("n_dup_spans"),
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias("dup_fraction"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-duplication SPANS (the primitive behind Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — public): hash every OVERLAPPING ``window``-token n-gram,
    mark the token range of any n-gram that occurs in ≥ ``min_docs``
    distinct documents, and merge each document's marked ranges into
    MAXIMAL spans — the excise list substring-level dedup consumes.
    Contrast :func:`span_duplication`, which scores non-overlapping
    windows and reports fractions without positions.

    Overlapping or ADJACENT ranges merge (positions p, p+1 share
    window-1 tokens; a 1-token gap still means every token in between
    is covered by neither window, so it splits).

    Scale shape: the explode emits one 32-byte-hash row per token
    position (~n rows/doc — the shingle-family amplification, never the
    text itself); the n-gram frequency aggregates map-side; the merge
    is one per-doc window over only the DUPLICATED positions.  Output:
    ``(id, span_idx, start_tok, end_tok)``, 1-based inclusive token
    positions per maximal span.

    Round 14: the input is scale_out-rescaled first — the gram md5s run
    inside the explode's source task, and a small corpus is one scan
    split (no-op at >= cores input partitions)."""
    from pyspark.sql.window import Window

    from h2h_spark.operators import scale_out

    src = scale_out(df.select(F.col(id_col), F.col(text_col)), id_col)
    base = src.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    base = base.filter(F.size("__t") >= window)
    n = F.size("__t")
    grams = base.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - window + 1),
                lambda p: F.struct(
                    p.cast("int").alias("pos"),
                    F.md5(
                        F.array_join(F.slice("__t", p, window), " ")
                    ).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    freq = grams.groupBy("gh").agg(F.count_distinct("id").alias("nd"))
    dup = grams.join(freq.filter(F.col("nd") >= min_docs), "gh").select(
        "id", "pos"
    )
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (window - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "__ns",
        (prev_end.isNull() | (F.col("pos") > prev_end + 1)).cast("int"),
    ).withColumn("__sid", F.sum("__ns").over(w))
    return (
        marked.groupBy("id", "__sid")
        .agg(
            F.min("pos").cast("bigint").alias("start_tok"),
            (F.max("pos") + (window - 1)).cast("bigint").alias("end_tok"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("__sid") - 1).cast("bigint").alias("span_idx"),
            "start_tok",
            "end_tok",
        )
    )


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-dedup ACCOUNTING with first-occurrence retention: the
    duplicated maximal spans from :func:`duplicate_spans`, minus the one
    copy each cluster keeps.  A document RETAINS a span iff it is the
    span's owner — the minimum doc id among documents containing the
    span's leading n-gram (a deterministic, engine-portable stand-in for
    "keep the first occurrence" that needs no global document order).
    Everything else is excise budget.

    Output per document: ``(id, n_tokens, n_dup_tokens, n_excised,
    n_retained)`` where ``n_dup_tokens`` counts tokens inside duplicated
    spans, ``n_excised`` counts tokens in spans this document does NOT
    own, and ``n_retained = n_tokens - n_excised`` — the post-dedup
    corpus size a curation pipeline budgets with.  Documents shorter
    than ``window`` tokens pass through with zeros.

    Scale shape: everything reuses the duplicate-span machinery (hash
    rows, map-side n-gram frequency, per-doc windows over duplicated
    positions only); ownership is one more broadcast-sized aggregate on
    the n-gram table."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__t")
    ).select("id", "__t", F.size("__t").alias("n_tokens"))
    elig = base.filter(F.col("n_tokens") >= window)
    n = F.col("n_tokens")
    grams = elig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - window + 1),
                lambda p: F.struct(
                    p.cast("int").alias("pos"),
                    F.md5(
                        F.array_join(F.slice("__t", p, window), " ")
                    ).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    freq = grams.groupBy("gh").agg(
        F.count_distinct("id").alias("nd"), F.min("id").alias("owner")
    )
    dup = grams.join(freq.filter(F.col("nd") >= min_docs), "gh").select(
        "id", "pos", "gh", "owner"
    )
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (window - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "__ns",
        (prev_end.isNull() | (F.col("pos") > prev_end + 1)).cast("int"),
    ).withColumn("__sid", F.sum("__ns").over(w))
    spans = marked.groupBy("id", "__sid").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + (window - 1)).alias("end_tok"),
        # the leading n-gram is the row with the minimum pos: min_by
        # gives its owner without a second join back to the gram table
        F.min_by("owner", "pos").alias("owner"),
    )
    per_doc = spans.groupBy("id").agg(
        F.sum(F.col("end_tok") - F.col("start_tok") + 1)
        .cast("bigint")
        .alias("n_dup_tokens"),
        F.sum(
            F.when(
                F.col("owner") != F.col("id"),
                F.col("end_tok") - F.col("start_tok") + 1,
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_excised"),
    )
    return (
        base.select("id", "n_tokens")
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_dup_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_dup_tokens"),
            F.coalesce("n_excised", F.lit(0)).cast("bigint").alias("n_excised"),
            (F.col("n_tokens") - F.coalesce("n_excised", F.lit(0)))
            .cast("bigint")
            .alias("n_retained"),
        )
    )


def tfidf_keywords(
    df: DataFrame, id_col: str, text_col: str, *, top_k: int = 3
) -> DataFrame:
    """Per-document top-``top_k`` TF-IDF terms: ``(id, term, tfidf,
    rank)`` — the classic keyword-extraction / topic-feature stage.

    ``tf`` is in-document term count; ``idf = ln((N+1)/(df+1)) + 1``
    (smoothed, sklearn's formula).  Two shuffles: term-count explode →
    per-(doc, term) counts, then document-frequency aggregate joined
    back; the final per-doc top-k is a window over the doc's own terms
    only.  Document count N reaches the plan as a broadcast one-row
    aggregate — no driver action.  Ties rank by term ascending."""
    from pyspark.sql.window import Window

    terms = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
        .select("id", F.explode("__t").alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    with cache_scope() as persist:
        terms = persist(terms)
        # terms is already one row per (id, term) after the aggregate, so
        # document frequency is a plain count — count_distinct would add a
        # needless dedup Expand over the same rows.
        docfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
        ndocs = df.agg(F.count("*").alias("n"))
        scored = (
            terms.join(docfreq, "term")
            .crossJoin(F.broadcast(ndocs))
            .select(
                "id",
                "term",
                F.round(
                    F.col("tf")
                    * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1),
                    4,
                ).alias("tfidf"),
            )
        )
        w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select(
                F.col("id").alias(id_col), "term", "tfidf",
                F.col("rank").cast("int").alias("rank"),
            )
            # materialize the per-doc top-k before the scope releases
            # the term cache
            .localCheckpoint(eager=True)
        )


def vocab_coverage(
    df: DataFrame, id_col: str, text_col: str, *, vocab_size: int = 100
) -> DataFrame:
    """Tokenizer-vocabulary coverage: induce a ``vocab_size``-term
    vocabulary (most frequent unigrams, deterministic count-desc /
    term-asc tiebreak) and report each document's out-of-vocabulary rate
    ``(id, n_tokens, n_oov, oov_rate)`` — the coverage audit run before
    committing to a tokenizer.

    The vocabulary is a top-k over map-side-combined counts and
    broadcasts to the scoring join: the corpus-sized side never
    re-shuffles — per-doc stats aggregate on the already-keyed explode."""
    vocab = (
        top_ngrams(df, text_col, n=1, k=vocab_size)
        .select(F.col("gram").alias("term"), F.lit(1).alias("__in"))
    )
    toks = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t")).select(
        "id", F.explode("__t").alias("term")
    )
    joined = toks.join(F.broadcast(vocab), "term", "left")
    return (
        joined.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.col("__in").isNull().cast("long")).cast("bigint").alias("n_oov"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dup key that survives formatting noise."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def apply_takedown(
    df: DataFrame,
    id_col: str,
    text_col: str,
    takedown_ids: DataFrame,
    banned_phrases: list[str],
) -> DataFrame:
    """Corpus takedown/compliance pass: drop documents that are on an
    explicit removal list OR contain any banned phrase.

    The removal list is a broadcast left-anti join (takedown lists are
    tiny next to the corpus — no shuffle touches the corpus); the phrase
    screen is a conjunction of JVM ``contains`` filters evaluated at the
    scan.  Both prune BEFORE any downstream shuffle, which is the point:
    at 100 TB a takedown re-run is a single filtered scan, not a
    pipeline rebuild.
    """
    out = df.join(F.broadcast(takedown_ids.select(id_col)), id_col, "left_anti")
    for phrase in banned_phrases:
        out = out.filter(~F.col(text_col).contains(phrase))
    return out


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    max_edit: int = 1,
    block: "F.Column | None" = None,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Fuzzy string match (entity resolution): equi-join on a cheap
    blocking key, then verify candidates with edit distance.

    The naive formulation — ``levenshtein`` over the cross product — is
    corpus² and never acceptable; this is the standard block+verify
    shape: the blocking key (default: last whitespace token of the name)
    turns the candidate step into one hash equi-join, and the quadratic
    verifier runs only inside blocks.  Same discipline as the LSH dedup
    family: candidates from a cheap key, exact verification after.

    ``block`` is a column-expression function applied to each side's
    name column; the default assumes the last token is stable under the
    expected typo distribution (swap in a phonetic key / q-gram key for
    other error models).  Output: all left columns + all right columns +
    ``edit_dist``.

    ``max_block`` is the quadratic-bomb guard, mirroring the dedup
    family's ``max_bucket`` (`dedup.py:_bucket_candidates`): a blocking
    key held by more than ``max_block`` rows on EITHER side is excluded
    from matching entirely.  At corpus scale a key that common (think a
    last token of ``"inc"``) is a failed discriminator — its block
    contributes |L_k|x|R_k| candidate pairs that no task-level skew
    split can absorb — so the bounded-recall contract is the same one
    the LSH banding makes.  The hot-key set is found EAGERLY (one tiny
    per-side key-count aggregate at call time, <= |rows|/max_block
    keys by construction): when it is empty the returned plan is
    byte-identical to the unguarded one, and when keys ARE excluded a
    ``UserWarning`` names them (ADVICE r12 — bounded recall must never
    be silent).  Pass ``None`` to disable the guard, keep exact block
    semantics, and stay fully lazy.
    """
    blk = block if block is not None else (
        lambda c: F.substring_index(c, " ", -1)
    )
    # plan aliases make the sides unambiguous both when the two name
    # columns are spelled the same AND when left/right share lineage
    # (probe set derived from the catalog itself — a self-join)
    lb = left.withColumn("__blk", blk(F.col(left_name)))
    rb = right.withColumn("__blk", blk(F.col(right_name)))
    if max_block is not None:
        hot_keys = [r[0] for r in (
            lb.groupBy("__blk").count()
            .unionByName(rb.groupBy("__blk").count())
            .groupBy("__blk").agg(F.max("count").alias("n"))
            .filter(F.col("n") > max_block)
            .select("__blk")
            .collect()
        )]
        if hot_keys:
            import warnings

            shown = ", ".join(repr(k) for k in sorted(
                hot_keys, key=lambda k: (k is None, k))[:5])
            warnings.warn(
                f"fuzzy_join: {len(hot_keys)} blocking key(s) exceed "
                f"max_block={max_block} rows and are excluded from "
                f"matching (bounded recall): {shown}"
                f"{', ...' if len(hot_keys) > 5 else ''} — pass "
                "max_block=None for exact block semantics",
                UserWarning,
                stacklevel=2,
            )
            # a literal NOT-IN filter on ONE side suppresses the whole
            # block and pushes down to the scan (cheaper than the
            # anti-join shape — the key list is tiny by construction)
            lb = lb.filter(
                ~F.col("__blk").isin([k for k in hot_keys
                                      if k is not None])
                if None not in hot_keys
                else (F.col("__blk").isNotNull()
                      & ~F.col("__blk").isin(
                          [k for k in hot_keys if k is not None]))
            )
    # Candidates whose lengths differ by more than max_edit can't match:
    # the length test is a few-cycle predicate that runs as an extra join
    # condition (inside the hash-join probe), so the O(len²) levenshtein
    # only ever evaluates on survivors.
    lb = lb.alias("__fzl")
    rb = rb.alias("__fzr")
    ln = F.col(f"__fzl.{left_name}")
    rn = F.col(f"__fzr.{right_name}")
    return (
        lb.join(
            rb,
            (F.col("__fzl.__blk") == F.col("__fzr.__blk"))
            & (F.abs(F.length(ln) - F.length(rn)) <= max_edit),
        )
        # bounded levenshtein (Spark 3.5+): abandons a row's DP once the
        # distance provably exceeds max_edit — O(len·k) per candidate
        # instead of O(len²).  Returns -1 above the bound, so the filter
        # must be >= 0, not just <= max_edit; surviving rows carry the
        # exact distance, identical to the unbounded call.
        .withColumn("edit_dist", F.levenshtein(ln, rn, max_edit))
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_edit)
        )
        .drop(F.col("__fzl.__blk"))
        .drop(F.col("__fzr.__blk"))
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dim: int = 1024,
    seed: int = 7,
    threshold: float = 0.5,
) -> DataFrame:
    """Hashed-feature linear classifier scoring — the learned
    quality-filter stage (fastText-style hashing trick; the GPT-3 /
    FineWeb corpus filter shape): every token hashes into one of ``dim``
    feature buckets, the document logit is the mean bucket weight, and
    the score is the sigmoid.  Returns ``(id, n_tokens, score, label)``.

    Weights here are a deterministic pseudo-model derived from the
    engine-portable md5 hash (weight(f) = (h(seed|f) mod 2001 − 1000)
    / 1000 ∈ [−1, 1]) so the full pipeline is bit-reproducible in the
    SQL oracle; swap the inline expression for a broadcast-joined real
    weight table (same plan shape: |dim| rows) to serve a trained model.

    Scale shape: one explode feeds one id-keyed aggregate — the only
    corpus-sized shuffle.  Weights are computed inline per token (no
    join at all for the pseudo-model; a real model is a broadcast join
    against a |dim|-row table).  The logit accumulates rounded decimal
    contributions, so partial-aggregation order cannot move the score;
    the sigmoid is computed from the rounded logit.
    """
    from h2h_spark.operators.dedup import portable_hash60, tokens

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    feat = F.pmod(portable_hash60(F.col("term")), F.lit(dim))
    w = (
        F.pmod(
            portable_hash60(F.concat_ws("|", F.lit(str(seed)), feat.cast("string"))),
            F.lit(2001),
        )
        - 1000
    ) / 1000.0
    scored = toks.select("id", F.round(w, 6).cast("decimal(18,6)").alias("__w"))
    z = F.round(F.sum("__w").cast("double") / F.count("*"), 6)
    out = scored.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        z.alias("__z"),
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z"))), 4)
    return out.select(
        F.col("id").alias(id_col),
        "n_tokens",
        score.alias("score"),
        (score >= threshold).alias("label"),
    )


def naive_bayes_counts(
    df: DataFrame, label_col: str, text_col: str
) -> DataFrame:
    """Multinomial Naive Bayes TRAINING pass — the classifier behind most
    fast corpus quality/language filters (fastText-style linear models
    train the same sufficient statistics).  One explode + one grouping
    shuffle produces, per (label, token):

    - ``cnt``        raw token count in the class,
    - ``num``/``den`` the Laplace-smoothed conditional P(token|label) as
      an EXACT integer rational: ``(cnt + 1) / (class_tokens + vocab)``,
    - ``class_docs`` the class prior's numerator.

    Keeping the probabilities rational (two BIGINTs) instead of a float
    log keeps the whole model engine-exact — scoring takes logs at apply
    time, training artifacts stay portable.  Class totals and vocab size
    are single-row aggregates broadcast back onto the pair table — no
    driver state, the 100 TB shape.
    """
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(
            F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != "")
        ).alias("token"),
    )
    pair = toks.groupBy("label", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    class_tok = toks.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_tokens")
    )
    vocab = pair.select("token").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab")
    )
    class_docs = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_docs")
    )
    return (
        pair.join(F.broadcast(class_tok), "label")
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(class_docs), "label")
        .select(
            "label",
            "token",
            "cnt",
            (F.col("cnt") + 1).cast("bigint").alias("num"),
            (F.col("class_tokens") + F.col("vocab")).cast("bigint").alias("den"),
            "class_docs",
        )
    )


def vocab_growth(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 10
) -> DataFrame:
    """Heaps-law vocabulary growth: distinct vocabulary size after each
    prefix of the corpus (in ``id_col`` order, bucketed into
    ``n_buckets`` equal id-range slices).  Computed scale-correctly:
    ONE pass finds each token's first-occurrence bucket (min over a
    grouping shuffle), then the running vocabulary is a cumulative sum
    over the tiny per-bucket new-token counts — never a per-prefix
    distinct (the single-partition window touches n_buckets rows only).

    Output: ``(bucket, new_tokens, vocab_size, total_tokens)``.
    """
    lo_hi = df.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    )
    # integer `div`, not float-divide-then-cast: DuckDB casts
    # double→bigint by rounding, Spark by truncation — floor division
    # is the portable spelling on both engines ("//" there).
    toks = df.crossJoin(F.broadcast(lo_hi)).select(
        F.least(
            F.lit(n_buckets - 1).cast("bigint"),
            F.expr(
                f"(({id_col} - lo) * {n_buckets}) div (hi - lo + 1)"
            ),
        ).alias("bucket"),
        F.explode(
            F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != "")
        ).alias("token"),
    )
    first = toks.groupBy("token").agg(F.min("bucket").alias("bucket"))
    new_per_bucket = first.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_tokens")
    )
    tok_per_bucket = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket_tokens")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_per_bucket.join(new_per_bucket, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("new_tokens", F.lit(0)).cast("bigint").alias("new_tokens"),
            "bucket_tokens",
        )
        .withColumn("vocab_size", F.sum("new_tokens").over(w).cast("bigint"))
        .withColumn("total_tokens", F.sum("bucket_tokens").over(w).cast("bigint"))
        .drop("bucket_tokens")
    )


def extract_html_text(df: DataFrame, html_col: str) -> DataFrame:
    """HTML boilerplate stripping — the step between a WARC response
    payload and a training document.  Rule-based and fully built-in
    (regexp chain, whole-stage codegen; no parser library, no Python):

    1. drop ``<script>``/``<style>`` blocks (content is never text),
    2. strip remaining tags to spaces,
    3. decode the six dominant entities (``&amp;`` LAST, so
       ``&amp;lt;`` decodes to ``&lt;`` not ``<``),
    4. collapse whitespace, trim.

    Adds ``title`` (first <title> content), ``body_text``, ``n_chars``,
    ``n_links`` (href count via length arithmetic).  Production
    extractors add text-density scoring on top; the regex tier here is
    the deterministic, engine-portable core they all share.
    """
    h = F.col(html_col)
    no_script = F.regexp_replace(h, r"(?is)<script[^>]*>.*?</script>", " ")
    no_style = F.regexp_replace(
        no_script, r"(?is)<style[^>]*>.*?</style>", " "
    )
    stripped = F.regexp_replace(no_style, r"<[^>]*>", " ")
    ent = stripped
    for a, b in [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ]:
        ent = F.replace(ent, F.lit(a), F.lit(b))
    body = F.trim(F.regexp_replace(ent, r"\s+", " "))
    return (
        df.withColumn(
            "title",
            F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1),
        )
        .withColumn("body_text", body)
        .withColumn("n_chars", F.length("body_text").cast("bigint"))
        .withColumn(
            "n_links",
            F.expr(
                f"(length({html_col}) - length(replace({html_col}, 'href=', ''))) div 5"
            ).cast("bigint"),
        )
    )


# Unicode punctuation folding table (NFKC-lite): the deterministic,
# engine-portable core of corpus text normalization — fancy quotes and
# dashes fold to ASCII, NBSP to space, zero-width code points drop.
# Applied IN ORDER on both engines (each pair is a plain substring
# replace, no regex), then whitespace collapses.
NORMALIZE_TABLE: list[tuple[str, str]] = [
    ("‘", "'"), ("’", "'"), ("‚", "'"),
    ("“", '"'), ("”", '"'), ("„", '"'),
    ("–", "-"), ("—", "-"), ("−", "-"),
    ("…", "..."),
    (" ", " "),
    ("​", ""), ("‌", ""), ("‍", ""), ("﻿", ""),
]


def normalize_text(df: DataFrame, text_col: str, out_col: str = "norm") -> DataFrame:
    """Fold common Unicode punctuation to ASCII and collapse whitespace —
    the text-normalization pass every tokenizer-training pipeline runs
    first.  Pure replace chain (whole-stage codegen), identical table in
    the SQL twin."""
    c = F.col(text_col)
    for a, b in NORMALIZE_TABLE:
        c = F.replace(c, F.lit(a), F.lit(b))
    return df.withColumn(
        out_col, F.trim(F.regexp_replace(c, r"\s+", " "))
    )


def label_gini_diversity(
    df: DataFrame, label_col: str, text_col: str
) -> DataFrame:
    """Per-label token diversity as GINI IMPURITY (1 - Σ p²) — the
    entropy surrogate that needs no logarithm, so it stays EXACT
    integer arithmetic until one closing IEEE division (ln is libm and
    not bit-portable across engines).  One explode + two grouping
    shuffles; output ``(label, total_tokens, sum_sq, gini)``."""
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(
            F.filter(F.split(F.col(text_col), "\\s+"), lambda x: x != "")
        ).alias("token"),
    )
    per = toks.groupBy("label", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    agg = per.groupBy("label").agg(
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sum_sq"),
    )
    t2 = F.col("total_tokens") * F.col("total_tokens")
    return agg.withColumn(
        "gini",
        (t2 - F.col("sum_sq")).cast("double") / t2.cast("double"),
    )


def _srt_ms(block: Column, group_base: int) -> Column:
    """Millisecond value of the start (group_base=1) or end (5) timestamp
    of one SRT cue block."""
    pat = (
        r"(\d{2}):(\d{2}):(\d{2}),(\d{3})\s*-->\s*"
        r"(\d{2}):(\d{2}):(\d{2}),(\d{3})"
    )
    g = [
        F.regexp_extract(block, pat, group_base + i).cast("bigint")
        for i in range(4)
    ]
    return ((g[0] * 3600 + g[1] * 60 + g[2]) * 1000 + g[3])


def parse_srt_stats(df: DataFrame, id_col: str, srt_col: str) -> DataFrame:
    """SubRip (SRT) caption parsing — the video→text modality bridge
    (caption tracks are training text).  Splits cue blocks, parses the
    ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` range of EVERY cue, and reports
    ``(id, n_cues, total_ms, n_text_chars)`` — all with built-in
    split/transform/aggregate expressions, no Python in the hot path.
    """
    blocks = F.filter(
        F.split(F.col(srt_col), "\n\n"), lambda b: F.trim(b) != ""
    )
    base = df.select(F.col(id_col), blocks.alias("__b"))
    dur = F.aggregate(
        F.col("__b"),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + _srt_ms(b, 5) - _srt_ms(b, 1),
    )
    chars = F.aggregate(
        F.col("__b"),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.length(F.element_at(F.split(b, "\n"), 3)),
    )
    return base.select(
        F.col(id_col),
        F.size("__b").cast("bigint").alias("n_cues"),
        dur.alias("total_ms"),
        chars.alias("n_text_chars"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm, public):
    hash every overlapping ``k``-token gram, slide a ``window`` of
    consecutive gram hashes, and from each window select the MINIMUM
    hash (rightmost occurrence on ties); consecutive windows selecting
    the same position collapse to one fingerprint.

    The winnowing guarantee: any substring shared by two documents that
    spans at least ``window + k - 1`` tokens produces at least one
    SHARED selected fingerprint — so overlap detection needs only the
    selected set (density ~2/(window+1) of all grams), not every gram.
    This is the local-fingerprint primitive for partial-overlap /
    quote / plagiarism detection, where whole-doc hashing
    (:func:`fingerprint`) and doc-level MinHash both miss contained
    copies.

    Built-ins only, fully IN-ROW (round 13): the gram hash is the
    engine's portable md5-of-joined-tokens (the :func:`duplicate_spans`
    twin) and the window minimum is an ``array_min`` over each sliding
    window of the row-local gram-hash array with a ``(hash ASC, pos
    DESC)`` struct min — no UDF, and NO shuffle at all (the previous
    formulation exploded every gram and ran a per-doc window function:
    one id-keyed Exchange + Sort + Window over |grams| rows; a
    document's grams are one array row, so the window min never needed
    to leave the row).  The gram-hash array is let-bound so the m
    window references don't each re-inline the m md5 calls.  Output and
    selection rule identical: ``(id, pos, fp)``, 1-based gram positions,
    rightmost-on-ties, consecutive-duplicate windows collapsed
    (in-row ``array_distinct`` — cross-row duplicates are impossible,
    the id differs).  Verified bit-identical (two-sided exceptAll = 0)
    against the window formulation at sf0.1.

    Round 14: the input is scale_out-rescaled first — a small corpus is
    O(1) scan splits and the per-document md5+window fold would run
    nearly single-task (the r13 q_winnow_pairs bench regression);
    a no-op whenever the scan already has >= cores partitions."""
    from h2h_spark.operators import scale_out

    src = scale_out(df.select(F.col(id_col), F.col(text_col)), id_col)
    base = src.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    base = base.filter(F.size("__t") >= k + window - 1)
    n = F.size("__t")
    ghs = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda p: F.md5(F.array_join(F.slice("__t", p, k), " ")),
    )
    sel = F.element_at(
        F.transform(
            F.array(ghs),
            lambda gha: F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(gha) - (window - 1)),
                    lambda p: F.array_min(
                        F.transform(
                            F.sequence(p, p + window - 1),
                            lambda q: F.struct(
                                F.element_at(gha, q).alias("gh"),
                                (-q).cast("int").alias("np"),
                            ),
                        )
                    ),
                )
            ),
        ),
        1,
    )
    return (
        base.select("id", F.explode(sel).alias("s"))
        .select(
            F.col("id").alias(id_col),
            (-F.col("s.np")).cast("bigint").alias("pos"),
            F.col("s.gh").alias("fp"),
        )
    )


def winnow_overlap(
    fps: DataFrame,
    id_col: str = "id",
    *,
    min_shared: int = 2,
    max_docs_per_fp: int = 64,
) -> DataFrame:
    """Candidate overlap pairs from winnowing fingerprints: documents
    sharing ≥ ``min_shared`` distinct selected fingerprints, with the
    shared count — the MOSS match-ranking step.

    Scale shape: the pair generation is the LSH-band bucket join —
    fingerprints appearing in more than ``max_docs_per_fp`` documents
    are dropped FIRST (a fingerprint shared by everything ranks
    nothing; the cap bounds any bucket's pair fan-out at cap², the same
    guard as the MinHash banding path).  One groupBy on the fingerprint,
    one self-join inside buckets, one pair aggregate."""
    f = fps.select(F.col(id_col).alias("id"), "fp").distinct()
    df_per_fp = f.groupBy("fp").agg(
        F.count(F.lit(1)).alias("__df")
    )
    kept = f.join(
        df_per_fp.filter(F.col("__df") <= max_docs_per_fp).select("fp"), "fp"
    )
    a = kept.select(F.col("id").alias("id_a"), "fp")
    b = kept.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
