"""Text-analysis columns for document corpora.

All pure Column expressions (whole-stage codegen, no Python in the hot
path) over a string column — designed for the ``documents`` table shape
(doc_id, text, lang, source, n_chars) but schema-agnostic.

These extend the reference's surface: Gobblin ships ingestion converters,
not content analytics; a 100 TB training-data pipeline needs both. The
operators follow the same Converter discipline (stateless per-record
transforms) so they chain into Pipeline like any other converter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword sets for the n-gram/stopword language
# heuristic. Deliberately tiny: the heuristic is a cheap first-pass
# filter; a real model-based langid would ride in a Pandas UDF.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que", "por"],
}

def bind_once(value: Column, body) -> Column:
    """Evaluate ``value`` exactly once per row and hand it to ``body``
    as a lambda variable.

    Catalyst performs no common-subexpression elimination inside
    higher-order-function lambdas (they are interpreted per element),
    so a lambda body that references an expensive expression — the
    regex tokenize, a lowercased/clipped string — re-evaluates it once
    per produced element, turning a linear projection quadratic in the
    element count (the same trap ``minhash_signature`` documents for
    its base-hash argument). Routing the expression through a
    one-element ``transform`` binds it to a NamedLambdaVariable: the
    engine evaluates it once per row and every reference inside
    ``body`` reads the bound value. Result, type, and null behavior
    are identical to inlining (``body(NULL)`` evaluates with a NULL
    binding exactly as the inlined expression tree would)."""
    return F.transform(F.array(value), body)[0]


def tokens(col: Column | str, delimiter: str = r"\s+") -> Column:
    """Whitespace tokenization -> array<string>."""
    return F.split(F.col(col) if isinstance(col, str) else col, delimiter)


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def stopword_count(col: Column | str, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    toks = tokens(col)
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, F.lower(t))))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return stopword_count(col, lang) / F.greatest(token_count(col), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_token_length(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Composite heuristic quality score in [0, 1]: rewards documents with
    a sane stopword ratio, moderate token length, and low punctuation
    density — the classic cheap pre-filter before expensive model-based
    scoring. Deterministic, pure-Column."""
    sw = stopword_ratio(col, lang)
    mtl = mean_token_length(col)
    pr = punct_ratio(col)
    score = (
        F.when(sw > 0.05, F.lit(0.4)).otherwise(sw * 8)
        + F.when((mtl >= 3) & (mtl <= 10), F.lit(0.4)).otherwise(F.lit(0.1))
        + (F.lit(0.2) * (F.lit(1.0) - F.least(pr * 4, F.lit(1.0))))
    )
    return F.round(score, 4)


def lang_guess(col: Column | str) -> Column:
    """Stopword-vote language ID: the language with the highest stopword
    hit count wins; 'und' (undetermined) when no stopwords hit."""
    counts = [(lang, stopword_count(col, lang)) for lang in STOPWORDS]
    best = F.greatest(*[c for _, c in counts])
    expr = F.lit("und")
    # Later languages take precedence on ties in this fold; iterate
    # reversed so earlier (more common) languages win ties.
    for lang, c in reversed(counts):
        expr = F.when((c == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of
    whitespace-normalized, lower-cased text. The canonical exact-dedup
    key at corpus scale (hash once, group on the 128-bit digest instead
    of the full text — the shuffle carries 32 bytes/row, not documents)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(normalized)


def winnow_fingerprints(
    col: Column | str, k: int = 4, window: int = 4
) -> Column:
    """Winnowing document fingerprints (the rolling-hash fingerprint
    family): k-token shingles are hashed and a sliding window keeps
    each window's MINIMUM hash — the standard local-minimum sampling
    that guarantees any shared run of >= k+window-1 tokens between two
    documents shares at least one fingerprint (the plagiarism/near-dup
    detection invariant).

    Pure Column (one transform over an index sequence, no UDF, no
    shuffle): at corpus scale the fingerprint array replaces the
    document in every downstream comparison — grouping on exploded
    fingerprints finds candidate pairs with shuffle rows of ~16 bytes.
    Hashes are hex-md5 prefixes, so an external engine (the DuckDB
    oracle) reproduces them bit-for-bit; window minimum is
    lexicographic on the hex strings, identical in both engines."""
    c = F.col(col) if isinstance(col, str) else col

    # Both the token array and the hash array are bound once per row
    # (bind_once): slice() inside the sliding-window lambdas would
    # otherwise re-run the regex tokenize / the md5 chain once per
    # window position — cubic in document length.
    def _windows_of(hashes: Column) -> Column:
        n_win = F.size(hashes) - (window - 1)
        return (
            F.when(F.size(hashes) == 0, F.array().cast("array<string>"))
            .when(n_win <= 0, F.array_distinct(F.array(F.array_min(hashes))))
            .otherwise(
                F.array_sort(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), n_win),
                            lambda i: F.array_min(F.slice(hashes, i, window)),
                        )
                    )
                )
            )
        )

    def _fps_of(toks: Column) -> Column:
        n_grams = F.size(toks) - (k - 1)
        grams = F.when(n_grams <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
        hashes = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
        return bind_once(hashes, _windows_of)

    return bind_once(
        F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != ""),
        _fps_of,
    )


def chunk_spans(
    col: Column | str, chunk_tokens: int = 256, overlap: int = 32
) -> Column:
    """Document chunking for training pipelines: fixed-size token
    windows with overlap, as ``array<struct<chunk_id:int, start_tok:int,
    n_tokens:int, chunk:string>>``. Chunk i covers tokens
    [i*stride, i*stride + chunk_tokens) with stride =
    chunk_tokens - overlap; the last chunk may be short; a doc shorter
    than one chunk yields exactly one chunk (possibly empty text ->
    zero-token chunk suppressed).

    Pure Column — one ``transform`` over the chunk-index sequence, no
    UDF, no shuffle: chunking is a projection, so at corpus scale it
    pipelines into whatever shuffle follows (dedup, tokenize, write)
    without adding an exchange of its own."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    c = F.col(col) if isinstance(col, str) else col

    # the token array is bound once per row (bind_once): slice() inside
    # the chunk lambda would otherwise re-run the regex tokenize once
    # per chunk — quadratic in document length
    def _spans_of(toks: Column) -> Column:
        n = F.size(toks)
        # number of chunks: 1 + ceil(max(0, n - chunk) / stride); 0 if no tokens
        extra = F.greatest(n - chunk_tokens, F.lit(0))
        n_chunks = F.when(n <= 0, 0).otherwise(
            F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
        )
        spans = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                (i * stride).cast("int").alias("start_tok"),
                F.least(n - i * stride, F.lit(chunk_tokens))
                .cast("int")
                .alias("n_tokens"),
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_tokens)
                ).alias("chunk"),
            ),
        )
        # sequence(0, -1) would generate a DESCENDING [0, -1] — token-less
        # docs must yield an empty span array, not two bogus chunks
        return F.when(n_chunks <= 0, F.array().cast(
            "array<struct<chunk_id:int,start_tok:int,n_tokens:int,chunk:string>>"
        )).otherwise(spans)

    return bind_once(
        F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != ""), _spans_of
    )


# (pattern, replacement) in application order; \b word boundaries keep
# the digit patterns from eating parts of longer numbers. RE2-compatible
# (no backrefs/lookaround) so external engines replicate them exactly.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column | str) -> Column:
    """PII scrubbing for training corpora: emails, SSN-shaped, US-phone-
    shaped, and IPv4-shaped substrings replaced with typed placeholder
    tags, in a fixed order (SSN before phone: both are digit-dash
    shapes). Pure Column — a chain of JVM ``regexp_replace`` calls,
    no UDF; patterns are RE2-compatible by construction so the DuckDB
    oracle applies the identical regexes."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-grams as array<string> (for Jaccard similarity / shingling).
    Pure-Column: transform over a token index sequence. The token array
    is bound once per row (bind_once): slice() inside the lambda would
    otherwise re-run the regex tokenize once per gram position —
    quadratic in document length."""

    def _grams_of(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
        return F.when(k <= 0, F.array()).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )

    return bind_once(tokens(col), _grams_of)


def char_entropy(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 1000,
):
    """Per-document Shannon character entropy (bits/char) — the cheap
    garbled-input detector: natural language sits ~3.5–4.5 bits/char,
    base64/binary junk pushes toward 6, single-character spam toward 0.
    A standing pretraining-quality signal next to the ratio heuristics
    (quality_score) and the LM scores (corpus.trigram_logprob).

    Returns (id, n_scored, entropy_bits) over the first ``max_chars``
    lowercased characters. Determinism follows the q90 log discipline:
    each per-character term -(c/n)·log2(c/n) is round(6)-ed and summed
    as DECIMAL (order-independent), so any engine reproduces the value.

    Scale shape: chars explode to (doc, char) rows — the same linear
    expansion as trigram scoring — then two same-key shuffles (char
    counts per doc, decimal sum per doc); ``max_chars`` bounds the
    expansion per row exactly like q90's scoring prefix."""
    from pyspark.sql import functions as F  # local: keep module head slim

    t = F.lower(F.substring(F.col(text_col), 1, max_chars))
    # the clipped lowercased prefix is bound once per row (bind_once):
    # substring() inside the per-character lambda would otherwise
    # re-lowercase and re-clip the text once per character position —
    # quadratic in the scored prefix length
    char_arr = bind_once(
        t,
        lambda clip: F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(clip), F.lit(1))),
            lambda i: clip.substr(i, F.lit(1)),
        ),
    )
    chars = df.select(
        F.col(id_col),
        F.length(t).alias("_n"),
        F.explode(char_arr).alias("_ch"),
    ).filter(F.col("_n") > 0)
    counts = chars.groupBy(id_col, "_n", "_ch").agg(
        F.count(F.lit(1)).alias("_c")
    )
    # -(c/n) * ln(c/n) / ln(2), each factor one IEEE op, rounded at 6dp
    p = F.col("_c") / F.col("_n")
    term = F.round(-(p * F.log(p)) / F.lit(0.6931471805599453), 6)
    return (
        counts.groupBy(id_col)
        .agg(
            F.max("_n").cast("long").alias("n_scored"),
            F.sum(term.cast("decimal(18,6)")).cast("double").alias("entropy_bits"),
        )
    )
