"""Dump `explain(formatted)` for the engine's key pipelines into PLANS.md —
the evidence that filters push down, projections prune, dimensions
broadcast, and the hot path stays inside whole-stage codegen.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from image_search_indexing_spark.session import get_spark

    spark = get_spark(master="local[8]")
    sf = "/root/testdata/sf0.01"
    sections = []

    def cap(title, df, note=""):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        sections.append(
            f"## {title}\n\n{note}\n\n"
            f"shuffles (Exchange): {plan.count('+- Exchange') + plan.count(':- Exchange')}; "
            f"row-at-a-time Python (BatchEvalPython): {plan.count('BatchEvalPython')}; "
            f"broadcast joins: {plan.count('BroadcastHashJoin')}\n\n"
            f"```\n{plan}\n```\n"
        )

    qs = E.queries()
    cap(
        "frontier_schedule (end-to-end round)",
        qs["frontier_schedule"](spark, sf),
        "extract → canonicalize → champion dedup → two-phase politeness top-k.",
    )
    cap("q3_shipping_priority", qs["q3_shipping_priority"](spark, sf),
        "fact-fact sort-merge + broadcast dimension; revenue in exact cents.")
    cap("asof_nearest_events_orders", qs["asof_nearest_events_orders"](spark, sf),
        "as-of nearest via union + window carry (one shuffle on the key).")
    cap("minhash_lsh_buckets", qs["minhash_lsh_buckets"](spark, sf),
        "staged token/shingle/signature projections (no re-evaluation).")
    cap("cosine_topk", qs["cosine_topk"](spark, sf),
        "query side collected at plan build; each corpus Arrow batch scored "
        "as one BLAS matmul; batch-local top-k, then one window rank.")
    cap("emb_near_dup_pairs", qs["emb_near_dup_pairs"](spark, sf),
        "pairs only inside LSH buckets (no cross join); sim filter JVM-side.")
    cap("simhash_buckets_md5", qs["simhash_buckets_md5"](spark, sf),
        "explode + 60 codegen'd sign-sum aggregates (no interpreted HOF fold).")
    cap("indexer_compact", qs["indexer_compact"](spark, sf),
        "both reference MR jobs as one plan: surt-group, as-of assign, digest-group.")
    from image_search_indexing_spark.operators.dedup import minhash_candidate_pairs
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    cap("minhash_candidate_pairs", minhash_candidate_pairs(docs),
        "pair-emitting LSH: bucket self-join streams pairs, no per-bucket arrays.")
    cap("text_dup_groups", qs["text_dup_groups"](spark, sf),
        "candidate pairs join precomputed distinct-shingle ARRAYS, not raw "
        "document texts — grep the pair-join Exchanges for `text#`: absent. "
        "Shuffle bytes are O(pairs x shingle set), not O(pairs x doc length).")
    cap("caption_guard", qs["caption_guard"](spark, sf),
        "X5 caption budget: the running-cost window rides the SAME doc_id "
        "partition as the caption neighbor windows — one Exchange total, "
        "budget adds only a local span_idx re-sort.")
    cap("stratified_sample", qs["stratified_sample"](spark, sf),
        "deterministic curation sampling is a PURE FILTER: zero Exchanges, "
        "predicate at the scan, membership partition-invariant.")
    cap("media_dims", qs["media_dims"](spark, sf),
        "binary containers: closed-form payload build is codegen'd on the "
        "scan; ONE ArrowEvalPython (the header-parse codec kernel — Python "
        "by design); digest, gates and thumbnail box all JVM-side after.")
    cap("media_thumbs", qs["media_thumbs"](spark, sf),
        "F10 source-MIME re-encode gate: generator + decode/re-encode + "
        "thumb-sniff are the ONLY Arrow stages (codec kernels, Python by "
        "design); selection/coalesce stay JVM-side; zero Exchanges — a "
        "pure per-payload map.")
    cap("domain_profile", qs["domain_profile"](spark, sf),
        "domain blocklist table: two shuffles, both map-side partial "
        "(fingerprint multiplicity groupBy + the per-source agg); the "
        "fp join-back carries (fp, count) only; everything JVM codegen.")
    cap("leakage_safe_split", qs["leakage_safe_split"](spark, sf),
        "group-atomic train/val split: the xxhash64 bucket + split label "
        "are a codegen'd projection ON TOP of the dedup components plan — "
        "no additional Exchange beyond the group assignment itself.")
    cap("clean_corpus_neardup", qs["clean_corpus_neardup"](spark, sf),
        "winnow near-dup stage: champion window shuffles SCALARS only "
        "(fingerprint arrays computed post-champion via an id join-back); "
        "near-dup pairs stream out of the fingerprint equi-join.")
    cap("simhash_pairs_xx", qs["simhash_pairs_xx"](spark, sf),
        "production pair path: identical shape to the md5 twin with "
        "xxhash64 token hashing — bucket self-join, bit_count gate.")
    cap("gopher_repetition", qs["gopher_repetition"](spark, sf),
        "repetition signals as a ZERO-EXCHANGE projection: tokenize, "
        "sort, fold (mode count) and distinct all run as JVM-side HOF "
        "expressions — no Python, no explode-to-tokens intermediate.")
    cap("decontam_overlap", qs["decontam_overlap"](spark, sf),
        "benchmark gram set broadcast (eval sets are small by definition); "
        "train side explodes once and only rows SURVIVING the broadcast "
        "join shuffle — the 3 Exchanges carry the tiny bench-distinct and "
        "the matched-gram set (two-phase count-distinct), never the corpus.")
    cap("media_video", qs["media_video"](spark, sf),
        "AVI payload build codegen'd on the scan; ONE ArrowEvalPython "
        "(the container walk + DIB pixel decode — Python by design); "
        "projection otherwise.")
    cap("media_audio_pairs", qs["media_audio_pairs"](spark, sf),
        "audio near-dup: WAV payload build codegen'd on the scan; ONE "
        "ArrowEvalPython (RIFF walk + integer WHT fingerprint — Python "
        "by design); the Haitsma-Kalker lookup is an exact equi-join on "
        "the subfingerprint value (inverted index at scale), count-agg "
        "JVM-side.")
    cap("media_video_pairs", qs["media_video_pairs"](spark, sf),
        "video near-dup: AVI payload build codegen'd on the scan; ONE "
        "ArrowEvalPython (movi walk + frame decode + per-frame pHash); "
        "the frame-fingerprint inverted-index join and count-agg "
        "JVM-side.")
    cap("media_phash_pairs", qs["media_phash_pairs"](spark, sf),
        "visual near-dup: BMP payload build codegen'd on the scan; ONE "
        "ArrowEvalPython (pixel decode + integer-DCT pHash — Python by "
        "design); band explode, bucket self-join, bit_count gate and the "
        "pair distinct all JVM-side — candidates form only inside a "
        "(band, value) bucket, never n².")

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical plans of the headline pipelines\n\n"
            "Generated by tools/dump_plans.py. Things to check per plan:\n"
            "PushedFilters/ReadSchema at the scans, BroadcastHashJoin for\n"
            "dimensions, WholeStageCodegen coverage, no BatchEvalPython in\n"
            "hot paths (ArrowEvalPython only where kernels are Python by\n"
            "design).\n\n" + "\n".join(sections)
        )
    spark.stop()
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
