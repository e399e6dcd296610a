"""Text-analysis operators: language ID, quality scoring, token counts,
document fingerprinting.

Training-data-pipeline extras with no reference analog (the reference is
an elevation API). All pure column expressions — regex, array
higher-order functions, and hash built-ins — evaluated JVM-side under
whole-stage codegen. No Python UDFs: at 10^12 documents the per-row
Python boundary is the difference between hours and weeks.

Each metric family is built by an expression-builder (``_*_exprs``) and
exposed two ways: a per-family operator (token_stats / quality_score /
lang_id — the driver-query surface) and ``document_metrics``, which
selects EVERY family in one projection — one scan, zero joins — for
consumers that need all metrics per document (three
metric joins at 10^12 docs would be three shuffles of the whole corpus).

Determinism: every score uses only integer counts and single double
divisions (rounded), so results are bit-reproducible across engines —
the DuckDB oracle in ``__spark_entry__.py`` runs the same arithmetic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprutil import bind_once, tokens, word_ngram_array

__all__ = [
    "token_stats",
    "quality_score",
    "lang_id",
    "fingerprint",
    "repetition_stats",
    "document_metrics",
    "scrub_pii",
    "normalize_text",
    "corpus_stats",
    "chunk_documents",
    "STOPWORDS",
    "PII_PATTERNS",
]

# A BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum
# non-space. Written without \w/\s classes so Java-regex (Spark) and
# RE2 (DuckDB/others) agree exactly.
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = {
    "en": ["the", "a", "is", "of", "and", "to", "in", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "los", "las", "y", "es", "un"],
}


def _tokens(text_col: str):
    """Shared whitespace tokenization — see exprutil.tokens."""
    return tokens(text_col)


def _count_in(toks, words: list[str]):
    """# tokens that are members of a fixed word list (codegen'd filter)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _token_stat_exprs(text_col: str) -> dict:
    """n_chars, n_ws_tokens, n_bpe_tokens, avg_token_len."""
    toks = _tokens(text_col)
    n_ws = F.size(toks)
    return {
        "n_chars": F.length(F.col(text_col)).cast("long"),
        "n_ws_tokens": n_ws.cast("long"),
        "n_bpe_tokens": F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), F.lit(0))
        ).cast("long"),
        "avg_token_len": F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            / F.greatest(n_ws, F.lit(1)),
            6,
        ),
    }


def _quality_exprs(text_col: str) -> dict:
    """n_tokens, n_stop, n_punct, score — heuristic quality in [0,1]:
    0.4 * min(n_tokens/64, 1)            (enough content)
    + 0.3 * min(stopword_ratio*8, 1)     (natural-language-ness)
    + 0.3 * (1 - min(punct_ratio*10, 1)) (not symbol soup)
    """
    toks = _tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    n_stop = _count_in(toks, STOPWORDS["en"]).cast("long")
    n_punct = (
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[^A-Za-z0-9 ]"), F.lit(0)))
    ).cast("long")
    nt = F.greatest(n_tokens, F.lit(1))
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(64.0), F.lit(1.0))
        + F.lit(0.3) * F.least(n_stop / nt * F.lit(8.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(n_punct / nt * F.lit(10.0), F.lit(1.0)))
    )
    return {
        "n_tokens": n_tokens,
        "n_stop": n_stop,
        "n_punct": n_punct,
        "score": F.round(score, 6),
    }


def _lang_exprs(text_col: str) -> dict:
    """votes_<lang> per language + pred_lang. Ties break by fixed language
    order (en > de > fr > es); zero votes everywhere => 'und'
    (undetermined), mirroring CLD-style outputs."""
    toks = _tokens(text_col)
    langs = list(STOPWORDS)
    cols = {lang: _count_in(toks, STOPWORDS[lang]).cast("long") for lang in langs}
    best = F.greatest(*[cols[lang] for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(cols[lang] == best, F.lit(lang))
    out = {f"votes_{lang}": cols[lang] for lang in langs}
    out["pred_lang"] = pred
    return out


def _select(df: DataFrame, id_col: str, exprs: dict) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[e.alias(name) for name, e in exprs.items()],
    )


def token_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """(doc_id, n_chars, n_ws_tokens, n_bpe_tokens, avg_token_len).

    Default: n_ws_tokens = whitespace tokens; n_bpe_tokens = BPE-ish
    pre-tokens (letter runs / digit runs / punctuation singletons) —
    pure codegen'd expressions, zero Python.

    tokenizer: a ``bpe.BPETokenizer`` (a trained merges file) switches
    n_bpe_tokens to the REAL subword count — how training sequences are
    actually packed — via an Arrow-batched UDF with per-worker word
    memoization (Zipf: few distinct words per batch). The other columns
    stay codegen'd."""
    exprs = _token_stat_exprs(text_col)
    if tokenizer is not None:
        exprs = dict(exprs)
        exprs["n_bpe_tokens"] = F.size(
            bpe_pieces_udf(tokenizer)(F.col(text_col))
        ).cast("long")
    return _select(df, id_col, exprs)


def bpe_pieces_udf(tokenizer):
    """Arrow-batched subword tokenization: text -> array<string> of BPE
    pieces. The merge list ships in the UDF closure (small — it is the
    vocabulary artifact); the tokenizer is rebuilt once per executor
    python worker and memoizes per-word encodes across batches."""
    from pyspark.sql.functions import pandas_udf

    from ..bpe import BPETokenizer

    merges = list(tokenizer.merges)
    state: dict = {}

    @pandas_udf("array<string>")
    def _pieces(s: pd.Series) -> pd.Series:
        tok = state.get("tok")
        if tok is None:
            tok = state["tok"] = BPETokenizer(merges)
        return s.map(lambda t: None if t is None else tok.encode(t))

    return _pieces


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality score: (doc_id, n_tokens, n_stop, n_punct, score).
    Formula in _quality_exprs."""
    return _select(df, id_col, _quality_exprs(text_col))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: (doc_id, votes per lang, pred_lang)."""
    return _select(df, id_col, _lang_exprs(text_col))


def document_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_repetition: bool = False,
) -> DataFrame:
    """Every metric family in ONE projection: (doc_id, text, token stats,
    quality, language votes). One scan of the corpus, no joins — the
    shape a cleaning pipeline needs before filtering.

    The repetition family (``_repetition_exprs``) is opt-in: its
    top_bigram/trigram fractions cost two array_sort + aggregate folds per
    document — by far the most expensive metrics — so a run that never
    filters on them should not pay for them."""
    exprs: dict = {}
    exprs.update(_token_stat_exprs(text_col))
    exprs.update(_quality_exprs(text_col))
    exprs.update(_lang_exprs(text_col))
    if include_repetition:
        exprs.update(_repetition_exprs(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        *[e.alias(name) for name, e in exprs.items()],
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """Rolling-hash document fingerprint: (doc_id, fp, n_grams).

    fp = lexicographic min of md5 over all character k-grams — the
    winnowing scheme's global-window special case. Grams are generated
    with sequence+transform (per-row array expr); the min runs inside
    the same projection, so the operator is fully narrow (no shuffle).
    """
    n_pos = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_pos),
        lambda i: F.md5(F.substring(F.col(text_col), i, k)),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_min(grams).alias("fp"),
        n_pos.cast("long").alias("n_grams"),
    )


_bind = bind_once


def _word_ngrams(toks, n: int):
    """Array of space-joined word n-grams over a BOUND token array,
    repetition-metric semantics: a doc with < n tokens yields an EMPTY
    array (exprutil.word_ngram_array include_partial=False; contrast
    dedup._gram_array, which keeps the partial gram)."""
    return word_ngram_array(toks, n, include_partial=False)


def _top_run(grams):
    """Occurrence count of the most frequent gram: one O(n log n) sort +
    one aggregate fold over runs of equal adjacent values — fully
    JVM-side, so the per-document repetition profile needs no
    explode/groupBy shuffle. (The naive max-over-distinct filter is
    O(n^2) per doc — at 10k-token web documents that is 10^8 comparisons
    per row; the sort-fold is not.) Initial prev = "" can never match:
    tokens/grams are non-empty."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc, x):
        same = x == acc["prev"]
        run2 = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.greatest(acc["best"], run2).alias("best"),
        )

    return F.aggregate(F.array_sort(grams), zero, merge, lambda acc: acc["best"])


def _repetition_exprs(text_col: str) -> dict:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):
    for word 2-grams and 3-grams, the fraction of grams covered by the
    single most frequent gram (top_*_frac) and the fraction that are
    repeats of an earlier occurrence (dup_*_frac). High values mark
    boilerplate / keyword-stuffed pages that corpus cleaning drops.

    Each expensive column binds the token array once (_bind) and walks it
    once: top_*_frac sort+folds, dup_*_frac uses the native
    size(array_distinct()). n_grams needs only size(split) — cheap."""
    # factory closures, NOT `lambda t, n=n:` default-arg lambdas — PySpark
    # derives the HOF arity from the python signature, so a second
    # parameter (even defaulted) turns the binding into the 2-arg
    # (value, index) form and silently passes the ELEMENT INDEX as n
    def _top_fn(n):
        return lambda t: _top_run(_word_ngrams(t, n))

    def _ndist_fn(n):
        return lambda t: F.size(F.array_distinct(_word_ngrams(t, n)))

    toks0 = _tokens(text_col)
    out: dict = {}
    for n, name in ((2, "bigram"), (3, "trigram")):
        n_grams = F.greatest(F.size(toks0) - (n - 1), F.lit(0)).cast("long")
        safe = F.greatest(n_grams, F.lit(1))
        top = _bind(toks0, _top_fn(n))
        ndist = _bind(toks0, _ndist_fn(n))
        out[f"n_{name}s"] = n_grams
        out[f"top_{name}_frac"] = F.round(top / safe, 6)
        out[f"dup_{name}_frac"] = F.round((n_grams - ndist) / safe, 6)
    return out


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, top_bigram_frac, dup_bigram_frac, n_trigrams,
    top_trigram_frac, dup_trigram_frac) — per-document repetition profile.

    Fully narrow (one projection, no shuffle): gram arrays are built with
    sequence+transform and folded with aggregate, all under whole-stage
    codegen. A 100 TB corpus pays exactly one scan. No reference analog
    (training-data extra); semantics follow the public Gopher paper's
    repetition filters."""
    return _select(df, id_col, _repetition_exprs(text_col))


# PII redaction patterns, applied in list order (email first: an address
# contains digit runs a later pattern might otherwise nibble). Written in
# the common Java-regex / RE2 subset (no backrefs, no lookaround, no
# \w/\s/\b-in-class surprises) so Spark and the DuckDB oracle transform
# text identically.
PII_PATTERNS = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"),
    ("ipv4", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"),
    # international-ish phone: 8+ chars of digits/separators between two
    # digits, optional leading +; separators exclude '.' so IPv4 never
    # overlaps
    ("phone", "\\+?[0-9][0-9() -]{6,}[0-9]"),
]


def scrub_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction pass: (doc_id, clean, n_email, n_ipv4, n_phone).

    Emails, IPv4 addresses and phone-like digit runs are replaced by
    ``<EMAIL>`` / ``<IPV4>`` / ``<PHONE>`` tokens (sequential
    regexp_replace in PII_PATTERNS order); counts are per-category match
    counts on the text as seen at that stage of the chain, so the counts
    are exactly the number of tokens inserted. Pure codegen'd column
    expressions — narrow, zero Python, zero shuffle, the standard
    pre-training scrub shape (the heavy lifting at 100 TB is the scan
    itself)."""
    clean = F.col(text_col)
    counts = {}
    for name, pat in PII_PATTERNS:
        counts[f"n_{name}"] = F.regexp_count(clean, F.lit(pat)).cast("long")
        clean = F.regexp_replace(clean, pat, f"<{name.upper()}>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean"),
        *[e.alias(n) for n, e in counts.items()],
    )


def normalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonical text normalization: (doc_id, norm) with lowercasing,
    control characters stripped, runs of whitespace collapsed to single
    spaces, and ends trimmed — the cheap pass that makes exact-dedup
    hashes insensitive to whitespace/casing noise. Same Java/RE2-safe
    expression on both engines."""
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, "[\\x00-\\x1F\\x7F]", " ")
    t = F.regexp_replace(t, "  +", " ")
    t = F.trim(t)
    return df.select(F.col(id_col).alias("doc_id"), t.alias("norm"))


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str | None = "lang",
    percentiles: tuple = (0.5, 0.95, 0.99),
    approx: bool = False,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Per-group corpus length profile: (group, n_docs, total_tokens,
    mean_tokens, p50/p95/p99 token counts) — the first thing anyone
    computes over a new crawl drop, and the input to mixing decisions.

    ``approx=False`` (default): exact interpolated percentiles
    (``F.percentile``) — a partial-merge aggregate whose per-group state
    buffers the value stream; fine while groups are languages and docs
    per group fit an executor. ``approx=True``: the 10^12-doc path —
    ``approx_percentile`` (KLL-style sketch, bounded memory
    ~O(accuracy) per group, mergeable map-side), rank error ≤
    1/approx_accuracy; returns the nearest actual value rather than an
    interpolated one, so exact and approx can differ at even-count
    medians. Both modes share the surrounding aggregate; the flag is a
    parameter (not a code edit) so jobs can flip it per run."""
    n_tok = F.size(tokens(text_col)).cast("long")
    keys = [by] if by else []
    # ONE percentile aggregate with an array of percentages: a single
    # per-group value buffer (or sketch) serves every requested
    # percentile (separate aggs would each keep their own copy)
    pct_array = F.array(*[F.lit(float(p)) for p in percentiles])
    if approx:
        pcts = F.approx_percentile(n_tok, pct_array, F.lit(int(approx_accuracy)))
        pcts = F.transform(pcts, lambda v: v.cast("double"))
    else:
        pcts = F.percentile(n_tok, pct_array)
    out = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.round(F.avg(n_tok), 6).alias("mean_tokens"),
        pcts.alias("_pcts"),
    )
    for i, p in enumerate(percentiles):
        out = out.withColumn(
            f"p{round(p * 100)}_tokens",
            F.round(F.element_at("_pcts", i + 1), 6),
        )
    return out.drop("_pcts")


def _detok_expr(pieces):
    """Catalyst detokenization of a BPE piece array: pieces ending with
    the end-of-word marker contribute 'stem + space', others contribute
    themselves; trailing space trimmed. Matches bpe.BPETokenizer.
    detokenize exactly (the oracle replays that Python twin)."""
    from ..bpe import END_OF_WORD

    mlen = len(END_OF_WORD)
    return F.rtrim(
        F.concat_ws(
            "",
            F.transform(
                pieces,
                lambda p: F.when(
                    p.endswith(END_OF_WORD),
                    F.concat(
                        F.substring(p, F.lit(1), F.length(p) - mlen),
                        F.lit(" "),
                    ),
                ).otherwise(p),
            ),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int | None = None,
    tokenizer=None,
) -> DataFrame:
    """Fixed-token-window chunking: (doc_id, chunk_idx, chunk, n_tokens)
    — the sequence-prep step between corpus cleaning and tokenizer
    packing. ``stride`` defaults to ``chunk_tokens`` (non-overlapping);
    a smaller stride yields overlapping windows (sliding-context
    training). The final partial window is kept (its true token count is
    in ``n_tokens``); empty documents yield no chunks.

    Default tokens are whitespace words — a pure narrow plan: one bound
    tokenization + sequence/transform window construction + one
    posexplode — zero shuffles, zero Python; chunk rows stream straight
    to the sink partitioned however the scan was.

    tokenizer: a ``bpe.BPETokenizer`` switches the window unit to real
    subwords (windows of chunk_tokens BPE pieces, how sequences are
    actually packed); the chunk column is the detokenized window text
    (whitespace-normalized — the same single-space convention as the
    default mode; a window may start/end mid-word). The only Python is
    the Arrow-batched piece UDF; windowing/detokenization stay Catalyst
    expressions, and the plan stays shuffle-free."""
    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")

    bpe_mode = tokenizer is not None

    def _windows(t):
        size = F.size(t)
        # one window per start 0, stride, 2*stride, ... while start < size
        n_chunks = F.floor((size - 1) / stride) + 1
        def _chunk_text(sl):
            return _detok_expr(sl) if bpe_mode else F.concat_ws(" ", sl)
        wins = F.transform(
            F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
            lambda k: F.struct(
                _chunk_text(
                    F.slice(t, (k - 1) * stride + 1, chunk_tokens)
                ).alias("chunk"),
                F.least(
                    F.lit(chunk_tokens), size - (k - 1) * stride
                ).cast("long").alias("n_tokens"),
            ),
        )
        # guard sequence(1, 0) (it DESCENDS): an empty doc yields no chunks
        return F.when(size > 0, wins).otherwise(
            F.array().cast(
                "array<struct<chunk:string,n_tokens:bigint>>"
            )
        )

    token_array = (
        bpe_pieces_udf(tokenizer)(F.col(text_col))
        if bpe_mode
        else _tokens(text_col)
    )
    win = bind_once(token_array, _windows)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(win).alias("chunk_idx", "w"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("w.chunk").alias("chunk"),
        F.col("w.n_tokens").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# HTML -> text extraction (the crawl-pipeline front door)

# Sequential regex steps, applied in list order. Written in the common
# Java-regex / RE2 subset (inline (?is) flags, non-greedy, \A/\z anchors,
# NO backrefs — RE2 has none, hence one step per container tag instead of
# <(script|style)>.*?</\1>) so the Spark chain and the DuckDB oracle
# transform text identically. Replacements avoid '$' and '\' (special in
# Java's replacement grammar).
_HTML_CONTAINER_TAGS = ("script", "style", "noscript", "template", "svg",
                        "head")
HTML_STEPS: list[tuple[str, str]] = [
    # comments, then whole container elements (content is never text)
    ("(?s)<!--.*?-->", " "),
    *[
        (f"(?is)<{t}[ >].*?</{t} *>", " ")
        for t in _HTML_CONTAINER_TAGS
    ],
    # block-level closers + <br> become line breaks before tag stripping
    ("(?is)<br */?>|</(?:p|div|li|tr|td|th|blockquote|section|article|"
     "header|footer|h1|h2|h3|h4|h5|h6|ul|ol|table)( [^>]*)? *>", "\n"),
    # every remaining tag becomes a space (never joins words)
    ("(?s)</?[a-zA-Z][^>]*>", " "),
    # fixed entity table; &amp; decoded LAST so &amp;lt; -> &lt; (single
    # decode, the lossless order)
    ("&nbsp;|&#160;", " "),
    ("&lt;|&#60;", "<"),
    ("&gt;|&#62;", ">"),
    ("&quot;|&#34;", "\""),
    ("&apos;|&#39;", "'"),
    ("&amp;|&#38;", "&"),
    # whitespace discipline: collapse spaces, tighten around newlines,
    # collapse blank-line runs, trim ends (\A/\z anchors: RE2 '$' is
    # end-of-text while Java's also matches before a final newline — the
    # explicit anchors mean both engines agree)
    ("[ \\t\\r\\f]+", " "),
    (" ?\\n ?", "\n"),
    ("\\n+", "\n"),
    ("\\A\\s+|\\s+\\z", ""),
]


def html_text_expr(col) -> Column:
    """Column expression applying the full HTML_STEPS chain."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in HTML_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return c


def html_text_sql(expr: str) -> str:
    """The IDENTICAL chain as a DuckDB SQL fragment over ``expr`` — the
    oracle runs the same step table, so the two sides cannot drift."""

    def q(s: str) -> str:
        return "e'" + s.replace("\\", "\\\\").replace("'", "\\'") \
                       .replace("\n", "\\n").replace("\t", "\\t") + "'"

    out = expr
    for pat, repl in HTML_STEPS:
        out = f"regexp_replace({out}, {q(pat)}, {q(repl)}, 'g')"
    return out


def html_to_text(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html",
    min_line_chars: int = 0,
) -> DataFrame:
    """Extract readable text from raw HTML: (doc_id, text, n_lines,
    n_chars).

    Strips comments and container elements (script/style/head/...),
    converts block boundaries to newlines, removes remaining tags,
    decodes the fixed HTML entity table, and normalizes whitespace —
    the standard first stage of a crawl->training-corpus pipeline
    (c4/refinedweb shape). ``min_line_chars`` > 0 additionally drops
    short lines (cheap boilerplate cut: nav items, button labels).

    Pure codegen'd column expressions — narrow projection, zero Python,
    zero shuffle; at 100 TB this runs at scan speed and never exchanges.
    """
    text = html_text_expr(html_col)
    if min_line_chars > 0:
        text = F.array_join(
            F.filter(
                F.split(text, "\n"),
                lambda ln: F.length(ln) >= F.lit(min_line_chars),
            ),
            "\n",
        )
    return df.select(
        F.col(id_col).alias("doc_id"),
        text.alias("text"),
        (F.size(F.split(text, "\n"))
         - F.when(text == "", 1).otherwise(0)).cast("long").alias("n_lines"),
        F.length(text).cast("long").alias("n_chars"),
    )
