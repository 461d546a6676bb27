"""Text-analysis expressions for the training-data-pipeline layer:
tokenization, shingling, language-ID heuristic, quality scoring, token
counting, fingerprinting. All built-in Spark expressions (JVM-side).

These generalize the reference's text handling (title+text concat at
duplication_service.py:63, summary truncation ui/ui.py:49) into the
operators a 100 TB document pipeline needs. Deliberately built from
portable SQL primitives (split/md5/length) so every one of them has an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword list — enough for ratio features; deterministic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lower-cased text."""
    return F.split(F.lower(_c(text)), " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


# GPT-2-style pre-tokenizer pattern, restricted to the Java-regex /
# RE2 common subset (no lookahead, lower-cased input): contraction
# suffixes, space-prefixed letter runs, short digit runs (cl100k-style
# <=3-digit groups), punctuation runs.
BPE_PIECE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]{1,3}| ?[^a-z0-9\s]+"


def bpe_pieces(text: Column | str) -> Column:
    """BPE-ish pre-tokenizer pieces as array<string> — one JVM
    regexp_extract_all, no UDF. The pattern is portable to DuckDB's RE2
    so the whole pipeline stays oracle-checkable."""
    return F.regexp_extract_all(F.lower(_c(text)), F.lit(BPE_PIECE_RE), F.lit(0))


def bpe_piece_count(text: Column | str) -> Column:
    return F.size(bpe_pieces(text))


def bpe_token_estimate(text: Column | str) -> Column:
    """Subword token-count estimate: each piece contributes
    ceil(len(piece sans leading space)/4) tokens, min 1 — the ~4
    chars/token BPE heuristic applied per piece, as one aggregate
    expression."""
    return F.aggregate(
        bpe_pieces(text),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.length(F.ltrim(p)) / F.lit(4.0)).cast("long"),
        ),
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (dedup/minhash input).

    transform over an index sequence + slice keeps this a single
    codegen'd expression; no UDF, no explode until the caller wants one.
    """
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(text)
    stop = F.filter(toks, lambda t: t.isin(*stopwords))
    return F.when(F.size(toks) > 0, F.size(stop) / F.size(toks)).otherwise(F.lit(0.0))


def language_id(text: Column | str, threshold: float = 0.08) -> Column:
    """N-gram-free heuristic language ID: texts whose English-stopword
    ratio clears ``threshold`` are labeled 'en', else 'other'. A real
    deployment swaps in a fastText-style model via pandas_udf; the
    heuristic keeps the operator oracle-checkable."""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(
        F.lit("other")
    )


def avg_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score from cheap lexical features:
    length saturation, stopword presence, average word length sanity.
    Mirrors the C4/Gopher-style rule filters used for LLM corpus
    cleaning, expressed as one arithmetic expression."""
    t = _c(text)
    len_feat = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    stop_feat = F.least(stopword_ratio(t) / F.lit(0.1), F.lit(1.0))
    awl = avg_token_len(t)
    wordlen_feat = F.when((awl >= 3.0) & (awl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_feat + stop_feat + wordlen_feat) / F.lit(3.0), 6)


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Two documents with the same bag of distinct words collide —
    the cheap first-pass signature before shingle-level dedup."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


# ---------------------------------------------------------------- PII scrub
# Redaction patterns restricted to the Java-regex / RE2 common subset so
# the Spark expressions and the DuckDB oracle compile the SAME strings
# (single source of truth; order matters — email before ipv4 so a dotted
# quad inside an email domain is not double-counted, ssn before the
# generic digit-run card pattern).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("card", r"\b\d{13,19}\b", "<CARD>"),
)


def redact_pii(text: Column | str) -> Column:
    """Chained regexp_replace over PII_PATTERNS — a pure narrow map
    (no shuffle, whole-stage codegen'd), the shape PII scrubbing must
    have at 100 TB. Patterns are deliberately conservative: a corpus
    scrubber prefers false negatives over mangling prose."""
    c = _c(text)
    for _, pat, rep in PII_PATTERNS:
        c = F.regexp_replace(c, pat, rep)
    return c


def pii_counts(text: Column | str) -> list[tuple[str, Column]]:
    """Per-pattern redaction counts, computed PROGRESSIVELY (each pattern
    counted on text already scrubbed by the preceding ones) so the counts
    equal the number of replacements redact_pii makes."""
    c = _c(text)
    out: list[tuple[str, Column]] = []
    for name, pat, rep in PII_PATTERNS:
        out.append((name, F.regexp_count(c, F.lit(pat))))
        c = F.regexp_replace(c, pat, rep)
    return out


# ------------------------------------------------------------- repetition
def top_ngram_fraction(text: Column | str, n: int = 2) -> Column:
    """Gopher-style repetition signal: occurrence fraction of the most
    frequent word n-gram. One expression, no shuffle, no UDF: the n-gram
    array is let-bound (built once per row, not once per lambda
    element), sorted, and its longest run of equal neighbours is the
    top count, found in one ``aggregate`` pass over a (prev, run, best)
    state — O(s log s) in the s shingles of the row."""
    from newsify_spark.functions.scalars import let

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    start = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    return let(
        word_shingles(text, n),
        lambda bg: F.when(
            F.size(bg) > 0,
            F.aggregate(F.array_sort(bg), start, step, lambda acc: acc["best"]).cast("double")
            / F.size(bg),
        ).otherwise(F.lit(0.0)),
    )


def dup_token_fraction(text: Column | str) -> Column:
    """1 − |distinct tokens| / |tokens| — the duplicate-word mass."""
    toks = tokens(text)
    return F.when(
        F.size(toks) > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


MOD = 1_000_000_007
BASE = 31


def kgram_hashes(text: Column | str, k: int = 8) -> Column:
    """Polynomial (Rabin-Karp-style) hash of every character k-gram:
    h(s) = fold(acc*31 + codepoint) mod 1e9+7. Expressed as transform
    over start positions with an inner fold — O(n·k) rather than the
    O(n) rolling update (no cross-element running state in SQL), same
    values, still one codegen'd expression.
    """
    from newsify_spark.functions.scalars import let

    def fold(codes_slice: Column) -> Column:
        return F.aggregate(
            codes_slice,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * BASE + x) % MOD,
        )

    # let-bind the lowered text, then its codepoint array, so neither is
    # re-evaluated per element inside the lambdas (captured expressions
    # re-run per array element — the inlined form re-lowered the whole
    # document for every (start, offset) pair, O(n^2 k) per doc)
    return let(
        F.lower(_c(text)),
        lambda t: let(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1))),
                lambda j: F.ascii(t.substr(j, F.lit(1))),
            ),
            lambda codes: F.when(
                F.length(t) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - (k - 1)),
                    lambda i: fold(F.slice(codes, i, F.lit(k))),
                ),
            ).otherwise(F.array(fold(codes))),
        ),
    )


def winnow_fingerprints(text: Column | str, k: int = 8, w: int = 4) -> Column:
    """MOSS-style winnowing: min hash of every w-window over the k-gram
    hash sequence, deduplicated and sorted — the document's fingerprint
    set. Guarantees any shared substring of length >= k+w-1 yields a
    shared fingerprint (the winnowing theorem)."""
    h = kgram_hashes(text, k)
    mins = F.when(
        F.size(h) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(h) - (w - 1)),
            lambda i: F.array_min(F.slice(h, i, w)),
        ),
    ).otherwise(F.array(F.array_min(h)))
    return F.array_sort(F.array_distinct(mins))


def dedup_lines(text: Column | str, sep: str = "\n") -> Column:
    """Drop repeated lines within a document, keeping the FIRST
    occurrence (CCNet/RefinedWeb-style in-document line dedup — repeated
    nav/boilerplate lines are the classic web-corpus artifact). Pure
    codegen'd expression, zero shuffle: array_distinct preserves
    first-occurrence order."""
    t = F.split(_c(text), sep)
    return F.array_join(F.array_distinct(t), sep)


def word_segments(text: Column | str, seg_words: int = 6) -> Column:
    """Fixed-width word segmentation: consecutive ``seg_words``-word
    windows (the tail segment may be shorter). The separator-free
    segmentation used when a corpus has no line structure."""
    from newsify_spark.functions.scalars import let

    # let-bound: the inlined split() re-tokenized the document once per
    # SEGMENT inside the lambda (captured expressions re-run per element)
    return let(
        F.split(_c(text), " "),
        lambda t: F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.ceil(F.size(t) / F.lit(seg_words)).cast("int"), F.lit(1)
                ),
            ),
            lambda i: F.array_join(
                F.slice(t, (i - F.lit(1)) * seg_words + F.lit(1), F.lit(seg_words)),
                " ",
            ),
        ),
    )
