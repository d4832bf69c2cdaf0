"""Corpus-curation signal operators for LLM training-data pipelines.

Four families a web-scale (100 TB) curation run applies between crawl
and tokenization, each expressed as zero-or-one-shuffle DataFrame plans
built purely from JVM built-ins (no Python UDFs anywhere):

* **Repetition signals** (Gopher, Rae et al. 2021 §A1.1): per-document
  top-token fraction and duplicate word-n-gram fractions. Repetitive
  boilerplate (nav bars, keyword stuffing, SEO spam) scores high and is
  dropped before it poisons the token mix. Computed per-row with
  higher-order functions over the token array — a pure projection that
  rides the scan: NO explode, NO groupBy, zero shuffles, because at
  100 TB an explode-to-tokens intermediate would be ~20x the corpus.

* **Heuristic gates** (C4, Raffel et al. 2020 §2.2): terminal
  punctuation, sentence count, "lorem ipsum" / code-brace markers,
  minimum length — cheap regex flags that remove the bulk of non-prose
  before any expensive model-based scoring runs.

* **PII redaction**: email / NANP-phone / IPv4 detection counts plus a
  redacted text column (`<EMAIL>`/`<PHONE>`/`<IP>` placeholders) via
  chained ``regexp_replace`` — the regexes are chosen to behave
  identically under Java regex (Spark) and RE2 (DuckDB oracle).

* **Decontamination**: flag training documents that share any word
  k-gram (k=8 by default, the standard eval-decontamination window)
  with a benchmark/eval set. The benchmark side is tiny by definition,
  so its distinct-gram set is broadcast and the train side never
  shuffles — one scan, one broadcast hash join, one partial-agg
  count-distinct per doc.

All signal columns are deterministic and expressible in ANSI SQL, so
every operator here runs under the driver's DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..session import spread

__all__ = [
    "repetition_signals",
    "c4_signals",
    "pii_redact",
    "decontaminate",
    "curation_signals",
    "domain_profile",
]


def _max_run_count(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — i.e.
    the multiplicity of the most frequent element — via one
    ``F.aggregate`` fold (per-row, JVM codegen, no explode)."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, init, step)["best"]


def _dup_frac(grams: Column) -> Column:
    """Fraction of n-gram instances that are repeats of an earlier
    instance: ``1 - distinct/total`` (Gopher's duplicate-n-gram
    fraction). 0.0 for empty gram lists."""
    n = F.size(grams)
    return F.when(
        n > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / n, 6),
    ).otherwise(F.lit(0.0))


def repetition_signals(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition metrics (Gopher §A1.1 analogs).

    Returns ``(id, n_tokens, top_token_frac, dup_2gram_frac,
    dup_3gram_frac)``. ``top_token_frac`` is the most frequent token's
    share of all tokens (Gopher drops docs where it exceeds ~0.2 for
    2-grams etc.); the dup fractions are 1 - distinct/total over word
    2-/3-grams. Pure projection: tokenization, sort, fold and distinct
    all run as JVM-side higher-order-function expressions (no Python,
    no explode), so the operator adds no exchange of its own. Unlike the
    dedup and decontamination operators it does not ``spread()`` its
    input; any round-robin exchange in a composed plan comes from the
    caller."""
    from ..functions.text import word_shingles_from_tokens

    # Tokens staged in their own projection (multi-use alias blocks
    # project-collapse): the interpreted shingle lambdas then slice a
    # materialized array instead of re-running the regex tokenize once
    # per shingle (see word_shingles_from_tokens).
    staged = docs.select(F.col(id_col), word_tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    top = _max_run_count(F.array_sort(toks))
    return staged.select(
        id_col,
        n.alias("n_tokens"),
        F.when(n > 0, F.round(top.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("top_token_frac"),
        _dup_frac(word_shingles_from_tokens(toks, 2)).alias("dup_2gram_frac"),
        _dup_frac(word_shingles_from_tokens(toks, 3)).alias("dup_3gram_frac"),
    )


def c4_signals(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C4-style heuristic gate signals (Raffel et al. 2020 §2.2).

    Returns per-doc flags plus the composed ``keep`` decision:
    * ``ends_terminal`` — text ends with ``.``, ``!``, ``?`` or ``"``
      (C4 keeps only lines ending in terminal punctuation);
    * ``n_sentences`` — count of terminal-punctuation marks;
    * ``has_lorem`` — contains "lorem ipsum" (case-insensitive);
    * ``has_brace`` — contains ``{`` (C4's code-page marker);
    * ``n_tokens`` and the C4 minimum-length gate (≥ 5 words);
    * ``keep`` — ends_terminal ∧ ¬has_lorem ∧ ¬has_brace ∧ n_tokens ≥ 5.

    Pure regex projection — no shuffle, pushes past the scan."""
    text = F.col(text_col)
    n_tokens = F.size(word_tokens(text))
    ends_terminal = text.rlike('[.!?"]\\s*$')
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    return docs.select(
        id_col,
        n_tokens.alias("n_tokens"),
        ends_terminal.alias("ends_terminal"),
        F.regexp_count(text, F.lit(r"[.!?]")).alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (ends_terminal & ~has_lorem & ~has_brace & (n_tokens >= 5)).alias("keep"),
    )


# PII patterns — identical semantics under Java regex and RE2:
# no backreferences, no lookaround, \b supported by both.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Detect-and-redact PII spans: emails, NANP phone numbers, IPv4
    addresses. Returns ``(id, n_emails, n_phones, n_ips, redacted)``
    where ``redacted`` replaces each span with a typed placeholder.

    Order matters: emails are replaced first so an address whose host
    part embeds a dotted quad (``a@1.2.3.4.co``) can't be half-eaten by
    the IP rule, then IPv4, then phones. The patterns are NOT mutually
    disjoint (email vs IPv4 overlap exactly as above), so each count is
    taken on the text AFTER the earlier replacements ran — ``n_ips`` /
    ``n_phones`` equal the number of ``<IP>`` / ``<PHONE>`` placeholders
    actually present in ``redacted``, never a span already consumed by a
    higher-priority rule. Chained ``regexp_replace`` — single
    projection, zero shuffles, and the identical regexes run in the
    DuckDB oracle (RE2-safe subset)."""
    text = F.col(text_col)
    t1 = F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, _IPV4_RE, "<IP>")
    redacted = F.regexp_replace(t2, _PHONE_RE, "<PHONE>")
    return docs.select(
        id_col,
        F.regexp_count(text, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t2, F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_count(t1, F.lit(_IPV4_RE)).alias("n_ips"),
        redacted.alias("redacted"),
    )


def curation_signals(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """ALL per-row curation signals in ONE projection — the composed
    shape a full clean-corpus pipeline wants. PII redaction runs first
    (same chained-replace order as ``pii_redact``), then the C4 gate and
    the Gopher repetition fractions are computed over the REDACTED text
    (gating must see what tokenization will see, and a redacted
    ``<EMAIL>`` placeholder should count as its own token, not as the
    raw address).

    Returns ``(id, n_pii, redacted, n_tokens, top_token_frac,
    dup_2gram_frac, c4_keep)``. Still a pure projection: every signal is
    a JVM-side expression over the same row, so the whole stage rides
    the scan with zero shuffles — at 100 TB this is one pass, not four
    (the per-family operators above exist for single-signal use and
    oracle isolation)."""
    from ..functions.text import word_shingles_from_tokens

    text = F.col(text_col)
    t1 = F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, _IPV4_RE, "<IP>")
    red = F.regexp_replace(t2, _PHONE_RE, "<PHONE>")
    # Stage 1 materializes the redacted text (three chained regex
    # replaces), stage 2 the token array — multi-use aliases block
    # project-collapse, so neither is re-evaluated inside the interpreted
    # shingle lambda (which previously re-ran redact+tokenize per 2-gram).
    staged = docs.select(
        F.col(id_col),
        (
            F.regexp_count(text, F.lit(_EMAIL_RE))
            + F.regexp_count(t1, F.lit(_IPV4_RE))
            + F.regexp_count(t2, F.lit(_PHONE_RE))
        ).alias("n_pii"),
        red.alias("redacted"),
    ).withColumn("__toks", word_tokens(F.col("redacted")))
    redc = F.col("redacted")
    toks = F.col("__toks")
    n = F.size(toks)
    top = _max_run_count(F.array_sort(toks))
    ends_terminal = redc.rlike('[.!?"]\\s*$')
    has_lorem = F.lower(redc).contains("lorem ipsum")
    has_brace = redc.contains("{")
    return staged.select(
        id_col,
        "n_pii",
        "redacted",
        n.alias("n_tokens"),
        F.when(n > 0, F.round(top.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("top_token_frac"),
        _dup_frac(word_shingles_from_tokens(toks, 2)).alias("dup_2gram_frac"),
        (ends_terminal & ~has_lorem & ~has_brace & (n >= 5)).alias("c4_keep"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per training doc, the number of
    distinct word ``k``-grams it shares with the benchmark set
    (docs with 0 overlap are omitted — at 100 TB the contaminated
    slice is tiny and emitting the clean majority would be the
    anti-pattern).

    Plan shape for scale: the benchmark's distinct-gram set is
    broadcast (eval sets are small by definition — thousands of docs,
    not billions), the training side explodes to grams AFTER the
    semi-side hash set is built, and the per-doc count-distinct gets a
    map-side partial aggregate. One scan of train and one broadcast.
    Exchanges: the round-robin ``spread()`` of the train projection (so
    tokenize/shingle runs at full width on 1-row-group inputs), the
    benchmark side's distinct grams before the broadcast, and the two of
    the per-doc count-distinct (by (id, gram), then by id)."""
    # Tokenize in a SEPARATE projection before shingling: the multi-use
    # token alias blocks project-collapse, so the regex tokenize runs once
    # per row instead of once per shingle inside the interpreted HOF
    # lambda (measured 15-40x on this stage; see word_shingles_from_tokens).
    from ..functions.text import word_shingles_from_tokens

    bench_grams = (
        benchmark.select(word_tokens(F.col(bench_text_col)).alias("__toks"))
        .select(F.explode(word_shingles_from_tokens(F.col("__toks"), k)).alias("gram"))
        .distinct()
    )
    train_grams = spread(train.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col), F.explode(word_shingles_from_tokens(F.col("__toks"), k)).alias("gram")
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )


def domain_profile(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    block_dup_per_20: int = 1,
    block_quality_micro: int = 300_000,
) -> DataFrame:
    """Per-source curation profile — the domain-blocklist table a
    web-corpus pipeline builds before sampling (the per-domain cut
    C4/RefinedWeb-style pipelines apply ahead of any per-document
    scoring): doc count, total chars, quality mass, exact-duplicate
    multiplicity and language mix per domain, with a closed-form
    keep/block verdict.

    ALL-INTEGER aggregates: per-doc quality is converted to micro-units
    (``round(quality·10⁶)`` as BIGINT) and only SUMS are emitted, so the
    DuckDB oracle is exact by construction instead of float-summation-
    lucky; the verdict compares ``sum`` against ``threshold·count`` in
    integers. A source is blocked when more than 1-in-20 of its docs
    (``block_dup_per_20``/20) are members of an exact-dup fingerprint
    group, or its mean quality falls below ``block_quality_micro``.

    Scale shape: two shuffles, both map-side partial — fingerprint
    multiplicity (groupBy the 32-char fp) joined back, then the
    per-source agg. The multiplicity side carries (fp, count) only; at
    100 TB the join is skew-safe because fp groups ARE the dup groups
    (bounded by the corpus's duplication, and AQE splits a pathological
    hot fingerprint)."""
    from ..functions.text import doc_fingerprint, quality_score

    base = docs.select(
        F.col(source_col).alias("source"),
        F.col("lang"),
        F.col("n_chars"),
        doc_fingerprint(F.col(text_col)).alias("fp"),
        F.round(quality_score(F.col(text_col)) * 1_000_000, 0)
        .cast("long")
        .alias("q_micro"),
    )
    mult = base.groupBy("fp").agg(F.count("*").alias("fp_n"))
    j = base.join(mult, "fp")
    dup_docs = F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0))
    n_docs = F.count("*")
    sum_q = F.sum("q_micro")
    return j.groupBy("source").agg(
        n_docs.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        sum_q.alias("sum_q_micro"),
        dup_docs.alias("dup_docs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("en_docs"),
        F.when(
            # exact integer form of dup_docs/n_docs > block_dup_per_20/20
            # for ANY parameter value (the old int(20 // p) multiplier
            # drifted the threshold when p does not divide 20, e.g. p=3
            # blocked above 1/6 instead of 3/20); identical verdicts for
            # every divisor of 20, including the default p=1
            (dup_docs * 20 > n_docs * int(max(block_dup_per_20, 1)))
            | (sum_q < F.lit(int(block_quality_micro)) * n_docs),
            F.lit("block"),
        )
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )
