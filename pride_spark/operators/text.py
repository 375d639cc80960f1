"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-profile heuristic), quality scoring, token counting,
and rolling-hash document fingerprinting — all as JVM-side Column
expressions over the ``documents`` table, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic.
#: (Public common-word lists; intentionally minimal — the operator shape is
#: the point, the profiles are pluggable.)
LANG_PROFILES = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the baseline tokenizer).

    Empty / whitespace-only text yields an EMPTY array: Spark's
    ``split('', '\\s+')`` returns one empty-string element, which made
    ``token_count('') == 1`` and fed a phantom token into every
    downstream ratio (r10 review) — the empty element is filtered, the
    same normalization ``functions/strings.chars`` applies."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximating token count: word-pieces + punctuation + digits.

    A regexp over the public GPT-2-style pre-tokenizer pattern family:
    contiguous letters, contiguous digits, or single non-space symbols.
    """
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"))


def detect_language(text: Column, profiles: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit count.

    Deterministic tie-break: language key order.  Returns 'und' when no
    profile scores > 0.

    Perf note (r13, measured on the q21 plan): the obvious formulation —
    per-language ``size(filter(toks, …))`` folded through a chain of
    ``F.when`` — duplicates *Column subtrees at construction time*: each
    ``when`` copies every previous round's ``hits`` tree, so the final
    expression held ~80 copies of the tokenizer (split+trim+lower), all
    interpreted (HOFs are CodegenFallback, so codegen CSE never sees
    them).  This version tokenizes ONCE and keeps every expensive
    subexpression single-referenced: one ``aggregate`` pass over the
    tokens accumulates all per-language counts in a vector, and the
    argmax is a second tiny fold over the zipped (lang, count) pairs —
    identical result (strictly-greater replacement in sorted-language
    order reproduces the original first-wins tie-break; NULL text folds
    to NULL and coalesces to 'und', matching size(NULL-array) semantics).
    """
    profiles = profiles or LANG_PROFILES
    langs = sorted(profiles)
    toks = tokens(F.lower(text))
    zero = F.array(*[F.lit(0) for _ in langs])

    def count_step(acc: Column, t: Column) -> Column:
        votes = F.array(*[t.isin(*profiles[lang]).cast("int") for lang in langs])
        return F.zip_with(acc, votes, lambda a, b: a + b)

    counts = F.aggregate(toks, zero, count_step)
    tagged = F.zip_with(
        F.array(*[F.lit(lang) for lang in langs]),
        counts,
        lambda lang, c: F.struct(c.alias("s"), lang.alias("l")),
    )
    init = F.struct(F.lit(0).alias("s"), F.lit("und").alias("l"))
    best = F.aggregate(
        tagged, init, lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc)
    )
    return F.coalesce(best["l"], F.lit("und"))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length, word length, alpha ratio.

    The standard cheap pre-filter stack for web-scale corpora (C4-style
    heuristics): mean word length in a sane band, mostly-alphabetic,
    non-trivial length.
    """
    toks = tokens(text)
    n_tok = F.size(toks)
    mean_wlen = F.when(n_tok > 0, F.length(F.regexp_replace(text, r"\s+", "")) / n_tok).otherwise(
        F.lit(0.0)
    )
    alpha_ratio = F.when(
        F.length(text) > 0,
        F.length(F.regexp_replace(text, r"[^A-Za-z]", "")) / F.length(text),
    ).otherwise(F.lit(0.0))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + wlen_ok + alpha_ratio) / 3.0, 6)


def rolling_fingerprint(text: Column, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash of the character stream (document fingerprint).

    ``h = (h*31 + ascii(ch)) mod p`` folded over the text via ``aggregate``
    — the classic Rabin–Karp document fingerprint, reproducible in any
    engine with the same fold.
    """
    from pride_spark.functions.strings import chars

    return F.aggregate(
        chars(text),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % mod,
    )
