"""Text kernels: normalization, tokens, language-ID, quality, fingerprints.

The reference's text handling is limited to punctuation-split tokenization
(``utils/ImageSearchIndexingUtil.java:296-310``), mojibake repair
(``:247-287``) and the caption trim (``processors/
ImageInformationExtractor.java:779-794``); Solr does the real analysis
downstream (``managed-schema:400-427``). This module carries those kernels
plus the text-analysis operators a large-scale training-data pipeline needs
(language-ID, quality scoring, token counting, fingerprinting) — all as
built-in Column expressions (JVM-side, codegen'd, SQL-portable). No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_CAPTION_SIZE = 250  # ImageInformationExtractor.java:59 MAX_PARENT_CAPTION_SIZE

# Tiny built-in stopword lists for the n-gram/stopword language heuristic.
# Deliberately small: the point is a deterministic, broadcast-free,
# JVM-evaluable heuristic, not a real LID model.
_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "on"],
    "pt": ["de", "que", "e", "o", "da", "do", "em", "um", "uma", "para", "com", "os"],
    "es": ["de", "la", "que", "el", "en", "y", "los", "del", "se", "las", "por", "un"],
    "fr": ["de", "la", "le", "et", "les", "des", "en", "un", "du", "une", "que", "est"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich", "des", "auf"],
}


_MOJIBAKE_RE = (
    "Ã©|Ã¡|Ã£|Ã§|Ã°|Ãµ|Ã´|Ã³|Â®|Ã‡|ÃŠ|Ã•|Ã¨|Ãª|Ã«|Ã±|Ã¹|Ãº|Ã»|Â£"
)  # ImageSearchIndexingUtil.java:40 UTF8_MISMATCH


def fix_mojibake_udf():
    """F7: UTF-8 mojibake repair (ImageSearchIndexingUtil.java:247-287).

    Text containing double-encoded sequences (e.g. 'Ã©' for 'é') is
    re-encoded latin-1 → UTF-8; the repair is kept only when the result no
    longer matches the mojibake pattern (the reference's double-check).
    Arrow-vectorized pandas UDF (regex detection vectorized; re-encoding
    only on the matched minority)."""
    import re

    import pandas as pd
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    pat = re.compile(_MOJIBAKE_RE)

    def _fix(s):  # no type hints: pandas_udf would resolve them in this scope
        def repair(x):
            if x is None or not pat.search(x):
                return x
            try:
                fixed = x.encode("latin-1", errors="ignore").decode("utf-8", errors="ignore")
            except Exception:
                return x
            return fixed if not pat.search(fixed) else x

        mask = s.notna() & s.str.contains(_MOJIBAKE_RE, regex=True, na=False)
        out = s.copy()
        out[mask] = s[mask].map(repair)
        return out

    return F2.pandas_udf(_fix, T2.StringType())


_BOMS = [
    (b"\x00\x00\xfe\xff", "UTF-32BE"),
    (b"\xff\xfe\x00\x00", "UTF-32LE"),
    (b"\xef\xbb\xbf", "UTF-8"),
    (b"\xfe\xff", "UTF-16BE"),
    (b"\xff\xfe", "UTF-16LE"),
]


def detect_charset(data: bytes | None, sample: int = 8192) -> str | None:
    """F7: charset detection (``utils/ImageSearchIndexingUtil.java:247-287``
    uses juniversalchardet; this is the standard public detection cascade,
    no library needed):

    1. BOM sniff (UTF-8/16/32, both endiannesses);
    2. pure 7-bit → US-ASCII;
    3. strict UTF-8 validation of the head → UTF-8;
    4. BOM-less UTF-16 heuristic: ≥30% NUL bytes concentrated on even or
       odd offsets (Latin text encoded 2-byte) → UTF-16BE/LE;
    5. else single-byte fallback: any byte in the 0x80–0x9F C1 range (used
       for printables by Windows codepages, control-only in Latin-1) →
       windows-1252, otherwise ISO-8859-1.
    """
    if data is None:
        return None
    for bom, name in _BOMS:
        if data.startswith(bom):
            return name
    head = data[:sample]
    if not head:
        return "US-ASCII"
    if max(head) < 0x80:
        return "US-ASCII"
    try:
        # avoid judging a multibyte sequence cut at the sample boundary
        head[: sample - 4].decode("utf-8", errors="strict")
        return "UTF-8"
    except UnicodeDecodeError:
        pass
    n = len(head)
    if n >= 8:
        even = head[0::2].count(0)
        odd = head[1::2].count(0)
        if even > 0.3 * (n / 2) and odd < 0.05 * (n / 2):
            return "UTF-16BE"
        if odd > 0.3 * (n / 2) and even < 0.05 * (n / 2):
            return "UTF-16LE"
    if any(0x80 <= b <= 0x9F for b in head):
        return "windows-1252"
    return "ISO-8859-1"


_PY_CODEC = {
    "UTF-8": "utf-8", "US-ASCII": "ascii", "ISO-8859-1": "latin-1",
    "windows-1252": "cp1252", "UTF-16BE": "utf-16-be", "UTF-16LE": "utf-16-le",
    "UTF-32BE": "utf-32-be", "UTF-32LE": "utf-32-le",
}


def decode_detected(data: bytes | None) -> str | None:
    """Decode raw bytes with the detected charset (BOM stripped), replacing
    undecodable sequences — the reference's read-record-to-String step."""
    if data is None:
        return None
    cs = detect_charset(data)
    for bom, name in _BOMS:
        if name == cs and data.startswith(bom):
            data = data[len(bom):]
            break
    return data.decode(_PY_CODEC.get(cs, "latin-1"), errors="replace")


def decode_detected_udf():
    """Arrow-vectorized detect-then-decode (bytes → string) UDF."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    def _dec(s):
        return s.map(decode_detected)

    return F2.pandas_udf(_dec, T2.StringType())


def java_trim(text: Column) -> Column:
    """Java ``String.trim()`` semantics: strip leading/trailing chars <= U+0020."""
    return F.regexp_replace(text, r"^[\x00-\x20]+|[\x00-\x20]+$", "")


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace — the dedup/fingerprint canonical form."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def word_tokens(text: Column) -> Column:
    """array<string> of lowercase word tokens (non-empty, whitespace/punct split)."""
    cleaned = F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}]+", " ")
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != ""))


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish subword count estimate: word-piece regex occurrences.

    Counts runs of letters (split every ~4 chars), digits, and punctuation
    marks — a deterministic stand-in for a real tokenizer's token count.
    """
    pieces = F.regexp_count(text, F.lit(r"\p{L}{1,4}|\p{N}{1,3}|[^\p{L}\p{N}\s]"))
    return pieces.cast("int")


def lang_id(text: Column) -> Column:
    """Heuristic language ID over a tiny stopword table.

    Scores each language by distinct-stopword hits in the token set; CJK
    character presence short-circuits to 'zh'. Ties broken by language code
    (deterministic). Returns 'und' when nothing matches.
    """
    toks = word_tokens(text)
    # struct ordering = (score, -index, lang): max ⇒ highest score, ties to
    # the lexicographically-smallest language code (lowest sorted index).
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias("score"),
                F.lit(-i).alias("negidx"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, ws) in enumerate(sorted(_STOPWORDS.items()))
        ]
    )
    best = F.array_max(scored)
    has_cjk = text.rlike(r"[一-鿿]")
    return (
        F.when(has_cjk, F.lit("zh"))
        .when(best["score"] > 0, best["lang"])
        .otherwise(F.lit("und"))
    )


def quality_metrics(text: Column) -> dict[str, Column]:
    """Quality-scoring component metrics (each a Column, 0..1-ish)."""
    n_chars = F.length(text)
    n_alpha = F.regexp_count(text, F.lit(r"\p{L}"))
    n_punct = F.regexp_count(text, F.lit(r"[!-/:-@\[-`{-~]"))
    toks = word_tokens(text)
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.array_intersect(
            toks,
            F.array(*[F.lit(w) for ws in _STOPWORDS.values() for w in sorted(set(ws))]),
        )
    )
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))
    return {
        "alpha_ratio": safe(n_alpha, n_chars),
        "punct_ratio": safe(n_punct, n_chars),
        "stopword_ratio": safe(n_stop, n_tokens),
        "mean_word_len": safe(n_chars, n_tokens),
        "n_tokens": n_tokens,
        "n_chars": n_chars,
    }


def quality_score(text: Column) -> Column:
    """Scalar quality score in [0,1]: alpha-heavy, some stopwords, sane length."""
    m = quality_metrics(text)
    length_score = F.least(m["n_tokens"].cast("double") / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * m["alpha_ratio"]
        + F.lit(0.3) * F.least(m["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.2) * length_score
        + F.lit(0.1) * (F.lit(1.0) - F.least(m["punct_ratio"] * 5, F.lit(1.0)))
    )
    return F.round(score, 6)


def doc_fingerprint(text: Column) -> Column:
    """Exact-dedup fingerprint: MD5 of the normalized text."""
    return F.md5(normalize_text(text))


def rolling_fingerprint(text: Column) -> Column:
    """Content-defined fingerprint: xxhash64 of normalized text (64-bit)."""
    return F.xxhash64(normalize_text(text))


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): md5 of every k-char-gram of the
    normalized text, then the minimum hash of each w-gram window is
    selected; the sorted distinct minima are the document's fingerprint
    set. Guarantees: any match of length ≥ k+w-1 shares a fingerprint,
    and selection density is ~2/(w+1) — position-robust local sampling
    that plain shingle-MinHash doesn't give. Fixed-width lowercase hex
    compares lexicographically == numerically, so ``array_min`` over md5
    strings is the numeric winnow and the SAME expression runs in the
    DuckDB oracle. Built-ins only: one projection, no shuffle, no UDF."""
    grams = char_ngrams(text, k)
    hashes = F.transform(grams, lambda g: F.md5(g))
    n = F.size(hashes)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1)))
    mins = F.transform(idx, lambda i: F.array_min(F.slice(hashes, i, w)))
    return F.when(n > 0, F.array_sort(F.array_distinct(mins))).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """array<string> of word k-shingles over an ALREADY-MATERIALIZED token
    array column. Callers on a hot path must tokenize in a separate
    projection and pass the column here: higher-order functions are
    CodegenFallback, so a token expression inlined into the transform
    lambda is re-evaluated (full regex tokenize) once PER SHINGLE —
    measured 15-40x on the shingle stage (guide §1.2 step 2)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0)))
    return F.when(n >= k, F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))).otherwise(
        F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(F.array().cast("array<string>"))
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """array<string> of word k-shingles (space-joined), for MinHash/Jaccard.

    Convenience form over raw text — fine in per-row signal projections,
    but see ``word_shingles_from_tokens`` for anything that explodes or
    joins on the shingles."""
    return word_shingles_from_tokens(word_tokens(text), k)


def char_ngrams(text: Column, n: int = 5) -> Column:
    """array<string> of character n-grams of the normalized text."""
    norm = normalize_text(text)
    ln = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(ln - F.lit(n - 1), F.lit(0)))
    return F.when(ln >= n, F.transform(idx, lambda i: F.substring(norm, i, n))).otherwise(
        F.when(ln > 0, F.array(norm)).otherwise(F.array().cast("array<string>"))
    )


def trim_caption(caption: Column) -> Column:
    """Reference caption trim (ImageInformationExtractor.java:779-794).

    If longer than 250 chars: head = text[0:lastSpace(text[:125])] (125 when
    no space), tail = text from the first space at/after len-125; joined by
    '\\n', each side trimmed.
    """
    half = MAX_CAPTION_SIZE // 2
    too_long = F.length(caption) > MAX_CAPTION_SIZE
    head_raw = F.substring(caption, 1, half)
    # position of last space within the first 125 chars (0 when none)
    last_space = F.length(head_raw) - F.position(F.lit(" "), F.reverse(head_raw))
    last_space = F.when(F.position(F.lit(" "), F.reverse(head_raw)) == 0, F.lit(half)).otherwise(last_space)
    head = java_trim(F.substring(caption, 1, last_space))
    tail_start = F.length(caption) - F.lit(half) + F.lit(1)
    tail_raw = F.substring(caption, tail_start, F.lit(2**30))
    first_space = F.position(F.lit(" "), tail_raw)  # 1-based, 0 if none
    tail = java_trim(
        F.substring(caption, tail_start + first_space - F.lit(1), F.lit(2**30))
    )
    return F.when(too_long, java_trim(F.concat(head, F.lit("\n"), tail))).otherwise(caption)
