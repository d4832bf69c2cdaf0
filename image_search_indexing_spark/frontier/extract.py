"""Outlink / media-ref extraction from interleaved span sequences.

Re-expresses the reference's HTML extraction pipeline
(``processors/ImageInformationExtractor.java``) over the input_hint span
model ``spans: array<struct<kind,text,media_ref,offset>>``:

- MIME/kind dispatch (P1, ``:191-236``)        → ``kind`` predicates
- per-page image cap (P4, ``:71,531-535``)     → ``F.slice`` before explode
- <a>-extension gate (P3, ``:43,653-664``)     → extension ``isin`` filter
- CSS-vs-parsed anti-join (J4, ``:596-613``)   → per-(doc,url) window mark
- inline data:image → ``hash:`` URL (F8, ``:247-271``) → ``md5`` + prefix
- >10000-char URL drop + count (``:64,483-492``)
- caption = nearest non-empty text span by offset (F11, ``:672-816``):
  an immediate neighbor (|Δoffset| = 1) wins outright (parent-walk analog,
  ties toward the earlier span); otherwise the nearest non-empty text on
  both sides joined by ``'\\n'`` (sibling-fallback analog, ``:758-788``),
  then the 250-char head+tail trim (``:779-794``).
- per-page caption budget (X5 guard, ``:501-520``): the reference abandons
  caption extraction for the REMAINDER of a page once it OOMs or exceeds
  ``EXTRACT_CAPTION_TIMEOUT_SECS`` (``malformedPageForCaptions``); the
  deterministic Spark analog is a running caption-length budget per page —
  once prior media spans' captions total more than the budget, every later
  media span on that page gets the reference's empty-string caption and a
  ``caption_truncated`` mark (the counter analog of the skip).

The admission rule (kind dispatch, ref rewrite, extension gate, J4,
URL-length drop, URL keys) lives once, in ``_ref_url`` and ``_admit``;
the batch, frontier and streaming extractors differ only in how they
explode spans and how they phrase the J4 predicate.

Everything is built-in Column expressions — single scan, no UDFs, no
shuffle except the per-doc window sort (partition key ``doc_id``), which at
100 TB stays healthy because doc_id is high-cardinality and spans/doc are
capped (P4). Dropped rows carry a ``drop_reason`` instead of disappearing,
so the round driver can emit the reference's counters (A12) from the same
scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import urls as U

MEDIA_KINDS = ("img", "a", "css")
# ImageInformationExtractor.java:43 IMAGE_FILE_EXTENSIONS
IMAGE_FILE_EXTENSIONS = ["jpg", "jpeg", "png", "tif", "tiff", "gif", "svg", "webp", "bmp", "ico"]
MAX_IMAGE_IN_HTML = 10_000  # ImageInformationExtractor.java:71
MAX_URL_LENGTH = 10_000  # ImageInformationExtractor.java:64 MAX_IMAGE_FIELD_SIZE


def _capped_docs(docs: DataFrame, spans_cap: int) -> DataFrame:
    """Per-doc frame with spans capped at ``spans_cap`` (P4) and the raw
    span count kept for the EXCEDED/NOT_PARSED counters."""
    extra = [c for c in ("base_url", "fetch_ts") if c in docs.columns]
    return docs.select(
        "doc_id", *extra,
        F.slice("spans", 1, spans_cap).alias("spans"), F.size("spans").alias("n_spans_raw"),
    )


def _explode(capped: DataFrame, meta: DataFrame | None) -> DataFrame:
    """One row per capped span: (doc_id, base_url, fetch_ts, n_spans_raw,
    span_idx, kind, text, media_ref, offset).

    ``meta=None`` means ``capped`` already carries base_url/fetch_ts
    (pre-joined single-scan input, e.g. docspans.interleaved_from_documents)."""
    return (
        (capped.join(meta, "doc_id") if meta is not None else capped)
        .select(
            "doc_id", "base_url", "fetch_ts", "n_spans_raw",
            F.posexplode("spans").alias("span_idx", "span"),
        )
        .select(
            "doc_id", "base_url", "fetch_ts", "n_spans_raw", "span_idx",
            "span.kind", "span.text", "span.media_ref", "span.offset",
        )
    )


def explode_spans(docs: DataFrame, meta: DataFrame, spans_cap: int = MAX_IMAGE_IN_HTML) -> DataFrame:
    """documents ⋈ docmeta → one row per span, with per-doc caption context.

    Returns every span (text and media) plus ``prev_text``/``next_text``,
    the nearest non-empty text span on each side by offset (two windows on
    one ``doc_id`` sort). The join with docmeta broadcasts when small; at
    scale both sides are co-partitioned on doc_id by the writer.
    """
    exploded = _explode(_capped_docs(docs, spans_cap), meta)
    is_text = (F.col("kind") == "text") & (F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
    txt = F.when(is_text, F.struct(F.col("offset"), F.trim("text").alias("text")))
    w = Window.partitionBy("doc_id").orderBy("offset")
    prev_t = F.last(txt, ignorenulls=True).over(w.rowsBetween(Window.unboundedPreceding, -1))
    next_t = F.first(txt, ignorenulls=True).over(w.rowsBetween(1, Window.unboundedFollowing))
    return exploded.withColumn("prev_text", prev_t).withColumn("next_text", next_t)


def _ref_url(base_url: Column, media_ref: Column) -> Column:
    """Candidate URL of a media ref: an inline ``data:`` ref becomes a
    synthetic ``hash:`` URL keyed by the md5 of the data URL (F8); any
    other ref is resolved against the page URL."""
    return F.when(
        media_ref.startswith("data:"), F.concat(F.lit("hash:"), F.md5(media_ref))
    ).otherwise(U.resolve_url(base_url, media_ref))


def _parsed_on_page() -> Column:
    """J4 predicate for exploded batch frames: the row's ``ref_url`` was
    also parsed from an img/a span of the same document."""
    parsed = F.when(F.col("kind").isin("img", "a"), F.lit(1)).otherwise(F.lit(0))
    return F.max(parsed).over(Window.partitionBy("doc_id", "ref_url")) == 1


def _admit(refs: DataFrame, css_dup: Column, max_url_length: int) -> DataFrame:
    """The one admission rule over rows carrying kind/media_ref/ref_url/
    fetch_ts: adds ``ext``, ``drop_reason`` (null = admitted) and the URL
    keys ``surt``/``url_hash``/``host``/``page_ts``.

    ``css_dup`` is the J4 "already parsed from an img/a span of this page"
    predicate. Batch callers pass the window form (``_parsed_on_page``);
    the streaming caller passes an ``array_contains`` over the page's
    parsed refs, since streaming allows no non-time windows.
    """
    kind = F.col("kind")
    ext = F.lower(F.regexp_extract("ref_url", r"\.([A-Za-z0-9]+)(?:[?#].*)?$", 1))
    drop_reason = (
        F.when(~kind.isin(*MEDIA_KINDS), F.lit("not_media"))
        .when(F.col("media_ref").isNull() | (F.trim("media_ref") == ""), F.lit("empty_ref"))
        .when(F.length("ref_url") > max_url_length, F.lit("url_too_long"))
        .when((kind == "a") & ~F.col("ext").isin(IMAGE_FILE_EXTENSIONS), F.lit("a_not_image"))
        .when((kind == "css") & css_dup, F.lit("css_already_parsed"))
    )
    return (
        refs.withColumn("ext", ext)
        .withColumn("drop_reason", drop_reason)
        .withColumn("surt", U.surt(F.col("ref_url")))
        .withColumn("url_hash", U.url_hash(F.col("surt")))
        .withColumn("host", U.url_host(F.col("ref_url")))
        .withColumn("page_ts", U.parse_archive_ts(F.col("fetch_ts")))
    )


def _caption() -> Column:
    """Nearest-non-empty-text caption with sibling fallback (F11 analog)."""
    off = F.col("offset")
    pd_ = off - F.col("prev_text.offset")
    nd = F.col("next_text.offset") - off
    prev_txt = F.col("prev_text.text")
    next_txt = F.col("next_text.text")
    adjacent_prev = F.col("prev_text").isNotNull() & (pd_ == 1)
    adjacent_next = F.col("next_text").isNotNull() & (nd == 1)
    joined = TX.java_trim(
        F.concat_ws("\n", *[F.coalesce(c, F.lit("")) for c in (prev_txt, next_txt)])
    )
    cap = (
        F.when(adjacent_prev, prev_txt)  # tie (both adjacent) → earlier span
        .when(adjacent_next, next_txt)
        .otherwise(joined)
    )
    return TX.trim_caption(cap)


def extract_refs(
    docs: DataFrame,
    meta: DataFrame,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
    features: str = "full",
    caption_page_budget: int | None = None,
) -> DataFrame:
    """Media-ref rows with canonical URL, SURT, hash, host, caption, tokens.

    Output includes ``drop_reason`` (null = valid): 'not_media', 'a_not_image',
    'css_already_parsed' (J4), 'url_too_long', 'empty_ref'. Valid rows are
    ``where(drop_reason IS NULL)`` — kept in-frame so one scan also feeds
    the counters aggregation (reference A12).

    ``features='frontier'`` returns the refs of ``extract_refs_frontier``:
    media rows only, without the caption neighborhoods and URL/filename
    tokens that only the indexer output needs.

    ``caption_page_budget`` (full mode only): deterministic analog of the
    reference's per-page caption guard (``ImageInformationExtractor.java:
    501-520`` — after an OOM or >EXTRACT_CAPTION_TIMEOUT_SECS of caption
    work, ``malformedPageForCaptions`` blanks every later caption on the
    page). Here the "work" proxy is the running total of caption characters
    already produced for PRIOR media spans of the page, in span order: once
    that exceeds the budget, later media spans get caption ``''`` and
    ``caption_truncated = true``. ``None`` (default) disables the guard —
    the reference's budget is wall-clock/heap, which fixtures never hit.
    """
    if features == "frontier":
        return extract_refs_frontier(docs, meta, spans_cap, max_url_length)[0]
    spans = explode_spans(docs, meta, spans_cap)
    spans = spans.withColumn("ref_url", _ref_url(F.col("base_url"), F.col("media_ref")))
    out = _admit(spans, _parsed_on_page(), max_url_length)
    # a media span's `text` field carries the tag's alt/title attribute
    # (the span model's F12 attribute scavenging); empty → NULL, matching
    # the reference's absent-attribute behavior (PageImageData.java:397-399
    # keys page records on title+ALT+caption)
    alt_trim = TX.java_trim(F.coalesce(F.col("text"), F.lit("")))
    out = out.withColumn("caption", _caption())
    guard_cols: list[str] = []
    if caption_page_budget is not None:
        # X5 caption guard: prior media spans' caption chars, page order.
        # Same partition key as the neighbor windows → one sort, no extra
        # shuffle; media-only cost so text spans never charge the budget.
        w_budget = (
            Window.partitionBy("doc_id")
            .orderBy("span_idx")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        is_media = F.col("kind").isin(*MEDIA_KINDS)
        cost = F.when(is_media, F.coalesce(F.length("caption"), F.lit(0))).otherwise(F.lit(0))
        prior = F.coalesce(F.sum(cost).over(w_budget), F.lit(0))
        truncated = is_media & (prior > F.lit(caption_page_budget))
        out = out.withColumn("caption_truncated", truncated).withColumn(
            "caption", F.when(truncated, F.lit("")).otherwise(F.col("caption"))
        )
        guard_cols = ["caption_truncated"]
    out = (
        out.withColumn("img_alt", F.when(alt_trim != "", alt_trim))
        .withColumn("page_surt", U.surt(F.col("base_url")))
        .withColumn("page_host", U.url_host(F.col("base_url")))
        .withColumn("img_src_tokens", U.url_tokens(F.col("ref_url")))
        .withColumn("img_filename_tokens", U.filename_tokens(F.col("ref_url")))
        .withColumn("page_url_tokens", U.url_tokens(F.col("base_url")))
    )
    return out.select(
        "doc_id", "kind", "span_idx", "offset", "ref_url", "surt", "url_hash", "host",
        "ext", F.col("base_url").alias("page_url"), "page_ts", "fetch_ts", "caption",
        "img_alt", "page_surt", "page_host", "img_src_tokens", "img_filename_tokens",
        "page_url_tokens", *guard_cols, "drop_reason",
    )


def extract_refs_frontier(
    docs: DataFrame,
    meta: DataFrame,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
):
    """Frontier fast path: media rows only, counters via ``observe``.

    Returns ``(refs, obs_docs, obs_spans, obs_media)``. Non-media spans are
    dropped *before* any URL enrichment (55% of spans carry no media_ref),
    and all counters ride as observation metrics on the single extraction
    pass — no persist, no separate counting actions. Read the observations
    after the first action over ``refs``:

        not_media = obs_spans['spans_total'] - obs_media['media_total']

    ``obs_docs`` carries the reference's page-level counters
    (ImageIndexerWithDupsJob.java:120-139): ``pages`` (PAGES),
    ``pages_with_media`` (PAGES_WITH_IMAGES), ``pages_span_capped``
    (IMAGES_IN_HTML_EXCEDED) and ``spans_not_parsed``
    (IMAGES_IN_HTML_NOT_PARSED — spans beyond the P4 cap).
    """
    from pyspark.sql import Observation

    # NOTE: an array-HOF variant (resolve refs inside the span array, css
    # check via array_contains, no window) was benched 60% SLOWER — Spark
    # evaluates lambda HOFs interpreted (no codegen) and duplicated the
    # transform during projection collapse. The exploded + window plan stays
    # fully inside whole-stage codegen except the one window exchange.
    obs_docs = Observation()
    media_kinds = F.array(*[F.lit(k) for k in MEDIA_KINDS])
    capped = _capped_docs(docs, spans_cap).observe(
        obs_docs,
        F.count(F.lit(1)).alias("pages"),
        # spans.kind projects the struct field out of the array (codegen'd);
        # arrays_overlap avoids an interpreted lambda HOF on the hot path
        F.count(F.when(F.arrays_overlap(F.col("spans.kind"), media_kinds), 1)).alias(
            "pages_with_media"
        ),
        F.count(F.when(F.col("n_spans_raw") > spans_cap, 1)).alias("pages_span_capped"),
        F.sum(F.greatest(F.col("n_spans_raw") - spans_cap, F.lit(0))).alias("spans_not_parsed"),
    )
    obs_spans = Observation()
    exploded = _explode(capped, meta).observe(obs_spans, F.count(F.lit(1)).alias("spans_total"))

    media = exploded.where(F.col("kind").isin(*MEDIA_KINDS)).withColumn(
        "ref_url", _ref_url(F.col("base_url"), F.col("media_ref"))
    )
    refs = _admit(media, _parsed_on_page(), max_url_length).select(
        "doc_id", "kind", "span_idx", "offset", "ref_url", "surt",
        "url_hash", "host", "ext", "page_ts", "drop_reason",
    )
    obs_media = Observation()
    reason = lambda r: F.count(F.when(F.col("drop_reason") == r, 1)).alias(r)
    valid = F.col("drop_reason").isNull()
    # per-branch + base64 counters mirror the reference's extraction enums
    # (ImageIndexerWithDupsJob.java:70-151: IMAGES_IN_HTML_TOTAL / _BASE64,
    # link/css branch counts) — data: URLs were rewritten to hash: above
    branch = lambda k: F.count(F.when(valid & (F.col("kind") == k), 1)).alias(f"valid_{k}")
    refs = refs.observe(
        obs_media,
        F.count(F.lit(1)).alias("media_total"),
        F.count(F.when(valid, 1)).alias("valid_ref"),
        *[branch(k) for k in MEDIA_KINDS],
        F.count(F.when(valid & F.col("ref_url").startswith("hash:"), 1)).alias("data_url_refs"),
        reason("empty_ref"),
        reason("url_too_long"),
        reason("a_not_image"),
        reason("css_already_parsed"),
    )
    return refs, obs_docs, obs_spans, obs_media


def extract_refs_streaming(
    stream: DataFrame,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
) -> DataFrame:
    """Streaming-safe extraction (no non-time windows allowed there).

    The J4 css-vs-parsed check runs INSIDE the span array pre-explode
    (a doc's spans arrive in one row, so the check is local — exactly the
    reference's per-page in-memory check, ImageInformationExtractor.java:
    596-613). Interpreted-HOF cost is acceptable on the incremental path;
    the batch path keeps the codegen'd window plan.

    ``stream`` columns: doc_id, spans, base_url, fetch_ts.
    """
    capped = stream.select(
        "doc_id", "base_url", "fetch_ts", F.slice("spans", 1, spans_cap).alias("spans")
    )
    refs_arr = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"].isin(*MEDIA_KINDS)),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
            _ref_url(F.col("base_url"), s["media_ref"]).alias("ref_url"),
        ),
    )
    staged = capped.select("doc_id", "fetch_ts", refs_arr.alias("__refs"))
    # non-null only: array_contains over an array holding a NULL returns
    # NULL instead of false for a miss
    parsed = F.transform(
        F.filter(F.col("__refs"), lambda r: r["kind"].isin("img", "a") & r["media_ref"].isNotNull()),
        lambda r: r["ref_url"],
    )
    exploded = staged.select(
        "doc_id", "fetch_ts", parsed.alias("__parsed"), F.explode("__refs").alias("s")
    ).select("doc_id", "fetch_ts", "__parsed", "s.*")
    css_dup = F.array_contains(F.col("__parsed"), F.col("ref_url"))
    return _admit(exploded, css_dup, max_url_length).select(
        "doc_id", "kind", "offset", "ref_url", "surt",
        "url_hash", "host", "ext", "page_ts", "drop_reason",
    )
