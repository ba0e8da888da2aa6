"""Text-analysis column functions for large-scale corpus pipelines.

All pure Catalyst expressions (split / regexp / array functions) —
JVM-side, codegen'd, no Python in the hot path. These are the
text-side analog of the reference's per-pixel kernels: embarrassingly
parallel per-row math that Spark scales linearly.

Families: tokenization, shingling, quality scoring, language ID
(marker-word heuristic), document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny multilingual stopword/marker table for the heuristic
# language scorer. Deterministic, embedded in the plan as literals.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "and", "of", "to", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "es"),
    "fr": ("le", "la", "les", "et", "est", "que"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai"),
}


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization: split on runs of whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text, lowercase=False))


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization: split at whitespace AND punctuation
    boundaries (GPT-2-style pre-tokenizer approximation), dropping
    empty fragments.
    """
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.split(F.trim(c), r"[\s\p{Punct}]+")
    return F.filter(pieces, lambda x: x != F.lit(""))


def word_shingles(toks: Column, n: int = 3, distinct: bool = True) -> Column:
    """n-word shingles from a token array.

    Docs shorter than n tokens yield an empty array (not NULL), so
    downstream explodes simply drop them.
    """
    # Guard short docs with CASE WHEN rather than greatest(.., -1):
    # sequence(0, -1) is DESCENDING in Spark (step defaults to -1), and
    # its i=-1 element would reach element_at(toks, 0), which throws.
    #
    # Unrolled element_at lookups instead of concat_ws(slice(toks,.,n)):
    # higher-order-function lambdas run interpreted, and slice()
    # allocates a fresh n-element array per WINDOW before concat reads
    # it — n array reads replace that allocation. Same strings in the
    # same order (proven byte-identical over all 23.6M sf10 windows);
    # measured 1.9x on the sf10 window-explode stage
    # (OPTIMIZATION_r10.md).
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + 1 + k) for k in range(n)]
        ),
    )
    sh = F.when(F.size(toks) >= n, sh).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh) if distinct else sh


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"\p{Punct}", "")
    return (F.length(c) - F.length(stripped)).cast("double") / F.greatest(
        F.length(c), F.lit(1)
    ).cast("double")


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    + reasonable mean token length. The standard cheap pre-filter in
    training-data pipelines (C4/Gopher-style rules, simplified).
    """
    c = F.col(text) if isinstance(text, str) else text
    t = tokens(c)
    n_tok = F.size(t)
    mean_tok_len = (F.length(c) - n_tok + 1).cast("double") / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    tok_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(0.3)).otherwise(
        F.lit(0.0)
    )
    return len_ok + punct_ok + tok_ok


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-word hit counts per language over the token array."""
    t = tokens(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(t, lambda x: F.array_contains(arr, x)))
    return out


def predict_lang(text: Column | str) -> Column:
    """Argmax language with deterministic tie-break (lexicographic).

    Implemented as a sort over (score desc, lang asc) structs — pure
    array ops, no UDF.
    """
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang")) for lang in sorted(LANG_MARKERS)]
    )
    return F.array_sort(pairs)[0]["lang"]


def normalized_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of casefolded, punctuation-stripped,
    whitespace-collapsed text. Catches trivially-reformatted dups that
    byte-exact hashing misses.
    """
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "), r"\s+", " "))
    return F.md5(norm.cast("binary"))


def exact_fingerprint(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c.cast("binary"))


def winnowing_fingerprints(
    text: Column | str, k: int = 8, w: int = 4, normalize: bool = True
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03,
    the MOSS scheme): hash every character k-gram of the normalized
    text, slide a w-gram window, keep each window's minimum hash —
    guarantees any match of length ≥ k+w−1 shares a fingerprint,
    with ~2/(w+1) selection density.

    Pure array expressions (transform + slice + array_min) so the same
    arithmetic states in SQL; hashes are 8-hex md5 slices — portable
    and uniform. Returns the DISTINCT selected fingerprints per doc.

    PERF: expressions referenced inside a higher-order-function lambda
    are cloned into it and re-evaluated PER ELEMENT — with the regex
    normalization inlined, the whole-document regexp_replace ran once
    per k-gram (O(chars²) per doc; dedup_winnowing measured 90 s at
    sf0.01). Callers on the hot path should pre-normalize into a real
    column and pass `normalize=False` so the lambda body only reads an
    attribute (measured back to single-digit seconds).
    """
    c = F.col(text) if isinstance(text, str) else text
    norm = (
        F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " ")) if normalize else c
    )
    n = F.length(norm)
    # CASE WHEN guards, not greatest(.., 0): sequence(1, 0) is the
    # DESCENDING [1, 0] in Spark and its 0 element reaches
    # slice(hashes, 0, w), which throws — any doc shorter than
    # k+w-1 normalized chars would kill the stage.
    empty_i = F.array().cast("array<int>")
    gram_idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(empty_i)
    hashes = F.transform(
        gram_idx, lambda i: F.substring(F.md5(F.substring(norm, i, k).cast("binary")), 1, 8)
    )
    win_idx = F.when(
        F.size(hashes) >= w, F.sequence(F.lit(1), F.size(hashes) - w + 1)
    ).otherwise(empty_i)
    # least() over w unrolled element_at lookups == array_min(slice):
    # both are the lexicographic min of the same non-null strings, and
    # the unroll skips a fresh w-element array allocation per window
    # (the word_shingles element_at rationale; interpreted HOF lambda).
    # least() needs two or more arguments, so w == 1 is a plain lookup.
    def window_min(j: Column) -> Column:
        picks = [F.element_at(hashes, j + off) for off in range(w)]
        return picks[0] if w == 1 else F.least(*picks)

    return F.array_distinct(F.transform(win_idx, window_min))


def winnowing_fingerprint_rows(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
):
    """DataFrame-level winnowing: same fingerprints as
    `winnowing_fingerprints`, but the normalized text AND the k-gram
    hash array are staged as real columns between projections, so
    neither is re-evaluated inside a lambda clone (25% faster again
    than staging only the normalization; see the lambda-cloning note
    on the Column form). Returns EXPLODED (id_col, fp) rows — the
    array is consumed in the same projection that selects the window
    minima, because handing the array across one more select lets
    CollapseProject merge the projections and re-inline the hash
    array into the window lambda (measured: O(len²) md5s, a >40×
    regression — the exploded shape is load-bearing, not cosmetic)."""
    norm = df.select(
        F.col(id_col),
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " ")).alias(
            "__t"
        ),
    )
    n = F.length("__t")
    # Same short-doc CASE WHEN guards as winnowing_fingerprints — see
    # the descending-sequence note there.
    empty_i = F.array().cast("array<int>")
    gram_idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(empty_i)
    hashes = F.transform(
        gram_idx,
        lambda i: F.substring(F.md5(F.substring("__t", i, k).cast("binary")), 1, 8),
    )
    hd = norm.select(id_col, hashes.alias("__hs"))
    win_idx = F.when(
        F.size("__hs") >= w, F.sequence(F.lit(1), F.size("__hs") - w + 1)
    ).otherwise(empty_i)
    fps = F.array_distinct(
        F.transform(win_idx, lambda j: F.array_min(F.slice("__hs", j, w)))
    )
    return hd.select(id_col, F.explode(fps).alias("fp"))
