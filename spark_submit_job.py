#!/usr/bin/env python
"""spark-submit entrypoint for the dedup pipeline (north-rule run mode).

Packaging + launch:

    python make_pyfiles.py                       # → dist/autovalidate_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/autovalidate_spark.zip \\
        spark_submit_job.py \\
        --corpus /path/to/corpus_parquet \\
        --checkpoint-dir /path/to/ckpt --run-id run1 \\
        [--synthetic-n-base 20000]

On a real cluster pass --master spark://... / yarn / k8s; in this
sandbox use --master 'local[N]'. The job reads the corpus table
(repo,path,commit,lang,content), runs Stage A→D with durable
checkpoints, and writes clusters + confirmed pairs + per-stage metrics
under --output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# --py-files puts the zip on sys.path automatically; this fallback makes
# the script also runnable directly from the repo root.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="parquet path of the corpus table")
    ap.add_argument("--synthetic-n-base", type=int, default=0,
                    help="generate a deterministic synthetic corpus instead")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--output", default=None)
    ap.add_argument("--curation-report", action="store_true",
                    help="also write the one-scan curation_report "
                         "(requires --output)")
    ap.add_argument("--repo-clusters", action="store_true",
                    help="also write repo-tier fork clusters "
                         "(file-hash-set overlap + CC; requires --output)")
    ap.add_argument("--snapshot-diff", metavar="PREV_CORPUS",
                    help="parquet path of the PREVIOUS corpus snapshot; "
                         "writes the churn-proportional added/deleted/"
                         "modified delta (requires --output)")
    ap.add_argument("--corpus-sketches", action="store_true",
                    help="also write the fixed-size corpus inventory "
                         "(HLL distinct report + Count-Min heavy hitters "
                         "+ frequency spectrum; requires --output)")
    ap.add_argument("--recall-report", action="store_true",
                    help="also write the per-banding-config LSH "
                         "recall/precision calibration report against "
                         "the exact pair truth set (requires --output)")
    ap.add_argument("--clone-report", action="store_true",
                    help="also write function-granularity exact clone "
                         "groups (method-level units, the SourcererCC "
                         "granularity) plus the Heaps vocabulary-growth "
                         "curve over the corpus (requires --output)")
    ap.add_argument("--maintenance-report", action="store_true",
                    help="also write the table-maintenance plans: "
                         "per-repo compaction bins and the two-level "
                         "Merkle range-digest table; if a previous "
                         "run's digest table exists at the output "
                         "root it also writes the anti-entropy range "
                         "diff against it (requires --output)")
    ap.add_argument("--profile-report", action="store_true",
                    help="also write the data-quality profile: per-column "
                         "row/null/distinct/uniqueness stats plus robust "
                         "per-repo |len - median| > 3*MAD file-length "
                         "outlier flags (requires --output)")
    ap.add_argument("--linkage-report", action="store_true",
                    help="also write the probabilistic record-linkage "
                         "view: per-field m/u weights, agreement-"
                         "pattern posteriors, resolved-entity clusters "
                         "and golden records over (lang, length-bucket) "
                         "blocks (requires --output)")
    ap.add_argument("--graph-report", action="store_true",
                    help="also write the repo-graph analysis triad over "
                         "the file-hash overlap edges: PageRank "
                         "(authority), triangle/clustering stats (local "
                         "cohesion), k-core (community depth) — the "
                         "quality-weighting signals a curation run "
                         "feeds sampling (requires --output)")
    ap.add_argument("--privacy-report", action="store_true",
                    help="also run the privacy release gates over the "
                         "corpus metadata: k-anonymity and l-diversity "
                         "audits of the (repo, lang, size-bucket) "
                         "quasi-identifier tuple (requires --output)")
    ap.add_argument("--eval-report", action="store_true",
                    help="also run the retrieval-evaluation gate over "
                         "the corpus: BM25 self-retrieval MRR@10 and hit "
                         "rate (relevance = equal normalized-text hash; "
                         "requires --output)")
    ap.add_argument("--search-report", action="store_true",
                    help="also build the corpus inverted index and write "
                         "the ranked-retrieval pair over it: BM25 top-10 "
                         "and the BM25⊕tf-cosine reciprocal-rank-fusion "
                         "top-10 per md5-bucketed query set (requires "
                         "--output)")
    ap.add_argument("--warehouse-report", metavar="SF_DIR",
                    help="also run the TPC-H classic suite (Q3/Q4/Q5/Q6/"
                         "Q8/Q10/Q13/Q14/Q18/Q19) over the warehouse "
                         "parquet tables in SF_DIR and write each result "
                         "(requires --output)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("autovalidate-dedup").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    from autovalidate_backend_api_spark import corpus as corpus_gen
    from autovalidate_backend_api_spark.plans.pipeline import run_pipeline
    from autovalidate_backend_api_spark.sources.checkpoint import export_clusters_json

    if args.synthetic_n_base:
        corpus = corpus_gen.corpus_spark(spark, args.synthetic_n_base)
    elif args.corpus:
        corpus = spark.read.parquet(args.corpus)
    else:
        ap.error("need --corpus or --synthetic-n-base")

    n_files = corpus.count()
    t0 = time.monotonic()
    res = run_pipeline(spark, corpus, args.checkpoint_dir, args.run_id)
    n_clusters = res.clusters.select("cluster_rep").distinct().count()
    wall = time.monotonic() - t0

    if args.output:
        res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        res.confirmed_pairs.write.mode("overwrite").parquet(f"{args.output}/confirmed_pairs")
        # S10: distributed JSON export of the cluster map — the batch
        # analog of the reference's JSON response payload (app.py:307-380
        # returns correction JSON per query; here one JSON line per file).
        export_clusters_json(res.clusters, f"{args.output}/clusters_json")

    summary = {
        "run_id": args.run_id, "files": n_files, "clusters": n_clusters,
        "wall_sec": round(wall, 2), "files_per_sec": round(n_files / wall, 1),
        "stages": {m["stage"]: m["wall_ms"] for m in res.metrics},
        # hot buckets Stage B/C dropped and the members they held (absent
        # for a stage resumed from its checkpoint)
        "dropped": {
            m["stage"]: {k: m[k] for k in ("dropped_buckets", "dropped_members")}
            for m in res.metrics if "dropped_buckets" in m
        },
    }

    if args.curation_report:
        if not args.output:
            ap.error("--curation-report requires --output")
        # The curation layer runs on the same corpus scan: map the code
        # table to the curation input shape (stable bigint id + text)
        # and write the one-scan admission report next to the clusters.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.datapipe import curation_report

        docs = corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            F.col("content").alias("text"),
        )
        report = curation_report(docs)
        report.write.mode("overwrite").parquet(f"{args.output}/curation_report")
        report_back = spark.read.parquet(f"{args.output}/curation_report")
        summary["curation_kept"] = report_back.filter(F.col("keep") == 1).count()
        summary["curation_total"] = report_back.count()

    if args.repo_clusters:
        if not args.output:
            ap.error("--repo-clusters requires --output")
        # Repo-tier dedup pass (the fork collapse a corpus build runs
        # BEFORE file-level LSH): file-hash-set overlap edges + Stage-D
        # connected components over the same corpus scan.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.datapipe import (
            repo_fork_clusters,
        )

        rfiles = corpus.select("repo", F.col("content").alias("text"))
        rclusters = repo_fork_clusters(rfiles, max_repos_per_hash=1000)
        rclusters.write.mode("overwrite").parquet(f"{args.output}/repo_clusters")
        rc_back = spark.read.parquet(f"{args.output}/repo_clusters")
        summary["repos"] = rc_back.count()
        summary["repo_forks"] = rc_back.filter(F.col("is_fork") == 1).count()

    if args.snapshot_diff:
        if not args.output:
            ap.error("--snapshot-diff requires --output")
        # Temporal axis: the churn set between the previous snapshot and
        # this corpus — the increment a production run would feed into
        # plans/incremental.py instead of re-deduping the whole table.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.datapipe import snapshot_diff

        prev = spark.read.parquet(args.snapshot_diff).select(
            "repo", "path", F.col("content").alias("text")
        )
        cur = corpus.select("repo", "path", F.col("content").alias("text"))
        diff = snapshot_diff(prev, cur)
        diff.write.mode("overwrite").parquet(f"{args.output}/snapshot_diff")
        back = spark.read.parquet(f"{args.output}/snapshot_diff")
        counts = {r["status"]: r["n"] for r in
                  back.groupBy("status").agg(F.count("*").alias("n")).collect()}
        summary["churn"] = {s: int(counts.get(s, 0))
                            for s in ("added", "deleted", "modified")}

    if args.corpus_sketches:
        if not args.output:
            ap.error("--corpus-sketches requires --output")
        # Fixed-size corpus inventory: register/cell state is constant-
        # size however large the corpus, so this is the per-snapshot
        # report a 10^12-file ingest can afford to recompute daily.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.sketches import (
            countmin_heavy_hitters,
            hll_distinct_report,
            term_frequency_spectrum,
        )

        text = F.col("content")
        sdocs = corpus.select(text.alias("text"))
        hll = hll_distinct_report(sdocs, F.col("text"))
        hll.write.mode("overwrite").parquet(f"{args.output}/sketch_hll")
        countmin_heavy_hitters(sdocs, F.col("text")).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/sketch_heavy_hitters")
        term_frequency_spectrum(sdocs, F.col("text")).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/sketch_spectrum")
        back = spark.read.parquet(f"{args.output}/sketch_hll")
        summary["sketch_distinct"] = {
            r["granularity"]: r["hll_estimate"] for r in back.collect()
        }

    if args.recall_report:
        if not args.output:
            ap.error("--recall-report requires --output")
        # Calibration loop as a job step: exact truth (the labeled-
        # sample path at corpus scale) vs each banding config, so the
        # recall >= 0.99 acceptance number is MEASURED per run, not
        # assumed. Doc identity = repo:path; shingles = token trigrams.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.dedup_eval import (
            lsh_recall_report,
        )

        toks = corpus.select(
            F.concat_ws(":", "repo", "path").alias("doc_id"),
            F.split("content", "\\s+").alias("t"),
        )
        t = F.col("t")
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(2)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, i),
                F.element_at(t, i + F.lit(1)),
                F.element_at(t, i + F.lit(2)),
            ),
        )
        shingles = (
            toks.filter(F.size(t) >= 3)
            .select("doc_id", F.explode(grams).alias("s"))
            .distinct()
        )
        rep = lsh_recall_report(shingles)
        rep.write.mode("overwrite").parquet(f"{args.output}/recall_report")
        back = spark.read.parquet(f"{args.output}/recall_report")
        summary["recall"] = {
            r["config"]: r["recall"] for r in back.collect()
        }
        # the S-curve next to the per-config recalls: detection rate
        # per exact-Jaccard decile for the recall-leaning banding
        from autovalidate_backend_api_spark.operators.dedup_eval import (
            lsh_scurve_report,
        )

        curve = lsh_scurve_report(shingles, bands=8, rows=2)
        curve.write.mode("overwrite").parquet(f"{args.output}/scurve_report")
        cback = spark.read.parquet(f"{args.output}/scurve_report")
        summary["scurve_deciles"] = cback.count()

    if args.clone_report:
        if not args.output:
            ap.error("--clone-report requires --output")
        # Function-granularity clone inventory + vocabulary growth over
        # the same corpus scan: the method-level dedup signal (one
        # copied helper inside an otherwise novel file) and the
        # template-heaviness diagnostic (a flat Heaps curve = the
        # corpus is boilerplate).
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.datapipe import (
            function_clone_groups,
            vocab_growth_curve,
        )

        cdocs = corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            F.col("content").alias("text"),
        )
        fgroups = function_clone_groups(cdocs)
        fgroups.write.mode("overwrite").parquet(f"{args.output}/function_clones")
        vcurve = vocab_growth_curve(cdocs)
        vcurve.write.mode("overwrite").parquet(f"{args.output}/vocab_growth")
        back = spark.read.parquet(f"{args.output}/function_clones")
        summary["clone_report"] = {
            "function_clone_groups": back.count(),
            "vocab_points": vcurve.count(),
        }

    if args.graph_report:
        if not args.output:
            ap.error("--graph-report requires --output")
        # Graph analysis triad over the REAL repo-overlap edges (the
        # driver gates certify the same operators on synthetic
        # mod-graphs; here they run on the corpus): edges = repo pairs
        # sharing >= 1/4 of file hashes (looser than the 1/2 fork
        # admission — analysis wants the neighborhood, not just the
        # merges), symmetrized for PageRank's no-sink contract.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.datapipe import (
            repo_file_overlap_pairs,
        )
        from autovalidate_backend_api_spark.operators.graph import (
            kcore,
            pagerank,
            triangle_stats,
        )

        rfiles = corpus.select("repo", F.col("content").alias("text"))
        edges = repo_file_overlap_pairs(
            rfiles, theta_num=1, theta_den=4, max_repos_per_hash=1000
        ).select(F.col("repo_a").alias("u"), F.col("repo_b").alias("v"))
        fwd = edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        sym = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        pr = pagerank(sym, iters=5).select(
            "node", F.round("pagerank", 9).alias("pagerank")
        )
        pr.write.mode("overwrite").parquet(f"{args.output}/graph_pagerank")
        tri = triangle_stats(edges)
        tri.write.mode("overwrite").parquet(f"{args.output}/graph_triangles")
        core = kcore(edges, k=2, rounds=8)
        core.write.mode("overwrite").parquet(f"{args.output}/graph_kcore")
        # WL structural classes + contamination-proximity BFS from the
        # top-PageRank repo (the graded Stage-D verdict) round out the
        # graph pass with the two newest operators.
        from autovalidate_backend_api_spark.operators.graph import (
            bfs_distances,
            wl_relabel,
        )

        wl = wl_relabel(edges, rounds=3)
        wl.write.mode("overwrite").parquet(f"{args.output}/graph_wl_labels")
        seed = pr.orderBy(F.col("pagerank").desc(), F.col("node").asc()).limit(1)
        dist = bfs_distances(sym, seed.select("node"), rounds=8)
        dist.write.mode("overwrite").parquet(f"{args.output}/graph_bfs")
        back = spark.read.parquet(f"{args.output}/graph_kcore")
        summary["graph"] = {
            "overlap_edges": edges.count(),
            "core2_nodes": back.count(),
            "triangle_nodes": tri.filter(F.col("triangles") > 0).count(),
            "wl_classes": wl.select("wl_label").distinct().count(),
            "bfs_reached": dist.count(),
        }

    if args.linkage_report:
        if not args.output:
            ap.error("--linkage-report requires --output")
        # Probabilistic record linkage over the code corpus: which
        # metadata agreement patterns predict content identity (the
        # per-row truth the whole pipeline preserves), then the
        # resolved-entity view. Blocked on (lang, content-length
        # bucket) — near-equal-length blocking keeps blocks small.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.linkage import (
            fs_linkage_clusters,
            fs_pattern_posterior,
            golden_records,
            mu_field_weights,
        )

        records = corpus.select(
            F.xxhash64("repo", "path", "commit").alias("rid"),
            F.concat(
                F.col("lang"),
                F.lit("#"),
                F.expr("length(content) div 50").cast("string"),
            ).alias("block"),
            F.col("repo"),
            F.regexp_extract("path", r"\.([A-Za-z0-9]+)$", 1).alias("ext"),
            F.split("path", "/").getItem(1).alias("dir2"),
            F.length("content").cast("bigint").alias("clen"),
            F.col("content"),
        )
        lk = dict(
            id_col="rid", block_col="block", truth_col="content",
            fields=["repo", "ext", "dir2", "clen"],
        )
        mu_field_weights(records, **lk).write.mode("overwrite").parquet(
            f"{args.output}/linkage_mu_weights"
        )
        fs_pattern_posterior(records, **lk).write.mode("overwrite").parquet(
            f"{args.output}/linkage_posterior"
        )
        # operating point: the synthetic corpus's near-dup variants agree
        # on every metadata field of their base (same repo/dir/exact
        # length) but differ in content, capping the best pattern's
        # posterior at ~0.23 — so the report thresholds at 1/5
        # (recall-leaning), accepting only that top pattern.
        clusters = fs_linkage_clusters(
            records, min_posterior_num=1, min_posterior_den=5, **lk
        )
        clusters.write.mode("overwrite").parquet(f"{args.output}/linkage_clusters")
        golden_records(
            records.drop("content"),
            spark.read.parquet(f"{args.output}/linkage_clusters"),
            id_col="rid",
            min_fields=["repo", "ext", "dir2", "clen"],
            max_fields=["block"],
        ).write.mode("overwrite").parquet(f"{args.output}/linkage_golden")
        back = spark.read.parquet(f"{args.output}/linkage_clusters")
        summary["linkage"] = {
            "records": back.count(),
            "entities": back.select("canonical_rid").distinct().count(),
            "dups": back.filter(F.col("is_dup") == 1).count(),
        }

    if args.profile_report:
        if not args.output:
            ap.error("--profile-report requires --output")
        # The snapshot sanity pass BEFORE dedup spends signatures: a
        # per-column profile (is `path` still key-like? how null is
        # `lang`?) and robust per-repo length outliers for quarantine.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.profiling import (
            mad_outlier_flags,
            profile_columns,
        )

        prof = profile_columns(
            corpus, ["repo", "path", "commit", "lang", "content"]
        )
        prof.write.mode("overwrite").parquet(f"{args.output}/dq_profile")
        files = corpus.select(
            "repo",
            F.xxhash64("repo", "path").alias("fid"),
            F.length("content").cast("bigint").alias("bytes"),
        )
        flags = mad_outlier_flags(
            files, group="repo", record_id="fid", value="bytes", k=3
        )
        flags.write.mode("overwrite").parquet(f"{args.output}/length_outliers")
        back = spark.read.parquet(f"{args.output}/length_outliers")
        summary["profile"] = {
            "columns": spark.read.parquet(f"{args.output}/dq_profile").count(),
            "length_outliers": back.filter(F.col("is_outlier") == 1).count(),
        }

    if args.maintenance_report:
        if not args.output:
            ap.error("--maintenance-report requires --output")
        # Table maintenance over the corpus-as-manifest: each file is a
        # (repo, stable-id, bytes) row. The digest table persists across
        # runs — the NEXT run diffs against it instead of re-reading
        # content (anti-entropy proportional to churn, not corpus).
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.sources.layout import compaction_plan
        from autovalidate_backend_api_spark.sources.merkle import merkle_digests

        files = corpus.select(
            "repo",
            # deterministic non-negative bigint file id from the path
            F.pmod(F.xxhash64("repo", "path"), F.lit(1 << 40)).alias("fid"),
            F.length("content").cast("bigint").alias("bytes"),
            "content",
        )
        comp = compaction_plan(
            files, partition="repo", file_id="fid", size_col="bytes",
            target_bytes=1 << 20,
        )
        comp.write.mode("overwrite").parquet(f"{args.output}/compaction_plan")
        digests = merkle_digests(files, key="fid", val="content")
        prev_path = f"{args.output}/merkle_digests"
        try:
            prev = spark.read.parquet(prev_path)
            has_prev = True
        except Exception:
            has_prev = False
        if has_prev:
            j = prev.withColumnRenamed("digest", "dig_a").join(
                digests.withColumnRenamed("digest", "dig_b"),
                ["level", "range_id"], "full_outer",
            )
            diff = j.filter(
                F.col("dig_a").isNull() | F.col("dig_b").isNull()
                | (F.col("dig_a") != F.col("dig_b"))
            ).select(
                "level", "range_id",
                F.when(F.col("dig_a").isNull(), "only_b")
                .when(F.col("dig_b").isNull(), "only_a")
                .otherwise("changed").alias("status"),
            )
            diff.write.mode("overwrite").parquet(f"{args.output}/merkle_diff")
            summary["maintenance_diff_ranges"] = (
                spark.read.parquet(f"{args.output}/merkle_diff").count()
            )
        digests.write.mode("overwrite").parquet(prev_path + "_new")
        # atomic-ish swap: write new, then overwrite the canonical path
        spark.read.parquet(prev_path + "_new").write.mode("overwrite").parquet(prev_path)
        back = spark.read.parquet(f"{args.output}/compaction_plan")
        summary["maintenance"] = {
            "compaction_bins": back.count(),
            "digest_ranges": spark.read.parquet(prev_path).count(),
        }

    if args.search_report:
        if not args.output:
            ap.error("--search-report requires --output")
        # Ranked retrieval over the deduped corpus — the reference's
        # /search flow at batch scale: one inverted index feeds BM25
        # and the BM25⊕tf-cosine RRF fusion (queries = the vocabulary
        # md5-bucketed into 4 term sets, the same deterministic rule
        # as the driver gates, so the report is reproducible run to
        # run with no query fixture to ship).
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.functions.normalize import (
            normalize_text_col,
        )
        from autovalidate_backend_api_spark.operators.retrieval import (
            bm25_topk,
            hybrid_rrf_topk,
        )

        sdocs = corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            F.col("content").alias("text"),
        )
        terms = sdocs.select(
            "doc_id",
            F.explode(
                F.split(normalize_text_col(F.col("text")), " ")
            ).alias("term"),
        ).filter(F.col("term") != "")
        queries = (
            terms.select("term")
            .distinct()
            .select(
                (
                    F.conv(F.substring(F.md5("term"), 1, 3), 16, 10)
                    .cast("bigint")
                    % 4
                ).alias("qid"),
                "term",
            )
        )
        bm = bm25_topk(terms, queries, k=10)
        bm.write.mode("overwrite").parquet(f"{args.output}/search_bm25")
        rrf = hybrid_rrf_topk(terms, queries, k=10)
        rrf.write.mode("overwrite").parquet(f"{args.output}/search_rrf")
        back = spark.read.parquet(f"{args.output}/search_rrf")
        summary["search"] = {
            "index_terms": terms.select("term").distinct().count(),
            "bm25_rows": spark.read.parquet(
                f"{args.output}/search_bm25"
            ).count(),
            "rrf_rows": back.count(),
            "fused_rank_moves": back.filter(
                (F.col("r_bm25") != F.col("rnk")) | (F.col("r_cos") != F.col("rnk"))
            ).count(),
        }

    if args.privacy_report:
        if not args.output:
            ap.error("--privacy-report requires --output")
        # The release gates a corpus passes before it ships: structure-
        # level privacy audits over the file-metadata quasi-identifier
        # tuple (repo, lang, 1KiB size bucket) with the file's repo as
        # the "sensitive" attribute for diversity — the k-anonymity /
        # l-diversity pair of the driver gates at job scale. Sub-k and
        # sub-l classes are the suppress-or-generalize worklist, written
        # next to the clusters.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.operators.profiling import (
            k_anonymity_report,
            l_diversity_report,
        )

        meta = corpus.select(
            F.col("repo"),
            F.col("lang"),
            F.expr("length(content) div 1024").cast("bigint").alias("size_kib"),
        )
        kan = k_anonymity_report(meta, ["lang", "size_kib"], k=4)
        ldv = l_diversity_report(meta, ["lang", "size_kib"], "repo", l=3)
        kan.write.mode("overwrite").parquet(f"{args.output}/privacy_k_anonymity")
        ldv.write.mode("overwrite").parquet(f"{args.output}/privacy_l_diversity")
        kb = spark.read.parquet(f"{args.output}/privacy_k_anonymity")
        lb = spark.read.parquet(f"{args.output}/privacy_l_diversity")
        summary["privacy"] = {
            "classes": kb.count(),
            "sub_k_classes": kb.filter(~F.col("meets_k")).count(),
            "at_risk_rows": int(kb.agg(F.max("n_at_risk")).first()[0]),
            "sub_l_classes": lb.filter(~F.col("meets_l")).count(),
            "homogeneity_exposed_rows": int(
                lb.agg(F.max("n_homogeneity_exposed")).first()[0]
            ),
        }

    if args.eval_report:
        if not args.output:
            ap.error("--eval-report requires --output")
        # the evaluation pair of the driver gates at job scale:
        # self-retrieval MRR of the BM25 ranker (every 37th file is a
        # query of its own tokens; relevant = identical normalized
        # text) and the lang-ID confusion matrix vs the corpus labels.
        from pyspark.sql import functions as F

        from autovalidate_backend_api_spark.functions.normalize import (
            normalize_text_col,
        )
        from autovalidate_backend_api_spark.operators.retrieval import bm25_topk

        edocs = corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            F.col("content").alias("text"),
        )
        eterms = edocs.select(
            "doc_id",
            F.explode(
                F.split(normalize_text_col(F.col("text")), " ")
            ).alias("term"),
        ).filter(F.col("term") != "")
        equeries = (
            eterms.filter(F.col("doc_id") % 37 == 1)
            .select(F.col("doc_id").alias("qid"), "term")
            .distinct()
        )
        n_q = equeries.select("qid").distinct().count()
        topk = bm25_topk(eterms, equeries, k=10)
        dh = edocs.select(
            "doc_id", F.md5(normalize_text_col(F.col("text"))).alias("h")
        )
        qh = dh.select(F.col("doc_id").alias("qid"), F.col("h").alias("qhash"))
        hits = (
            topk.join(qh, "qid")
            .join(dh, "doc_id")
            .filter(F.col("h") == F.col("qhash"))
            .groupBy("qid")
            .agg(F.min("rnk").alias("best"))
        )
        hits.write.mode("overwrite").parquet(f"{args.output}/eval_mrr_hits")
        hb = spark.read.parquet(f"{args.output}/eval_mrr_hits")
        agg = hb.agg(
            F.count("*").alias("n_hits"),
            F.sum(F.expr("2520 div best")).alias("mrr_num"),
        ).first()
        n_hits = int(agg["n_hits"] or 0)
        mrr_num = int(agg["mrr_num"] or 0)
        summary["eval"] = {
            "n_queries": n_q,
            "n_hits": n_hits,
            "mrr": round(mrr_num / (2520 * n_q), 6) if n_q else None,
            "hit_rate": round(n_hits / n_q, 6) if n_q else None,
        }

    if args.warehouse_report:
        if not args.output:
            ap.error("--warehouse-report requires --output")
        # the relational half of the engine at job scale: the TPC-H
        # classic suite over warehouse parquet — multi-join stars,
        # EXISTS/HAVING shapes, pushdown-heavy scans — the same
        # oracle-gated query functions the driver checks, exercised
        # through a real spark-submit session.
        from autovalidate_backend_api_spark import entrypoints

        qs = entrypoints.queries()
        suite = [
            "tpch_q3_topk", "tpch_q4_priority_exists",
            "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
            "tpch_q8_market_share", "tpch_q10_returned_revenue",
            "tpch_q13_custdist", "tpch_q14_promo_share",
            "tpch_q18_large_orders", "tpch_q19_disjunctive_revenue",
        ]
        wh: dict[str, int] = {}
        t_wh = time.monotonic()
        for name in suite:
            out = qs[name](spark, args.warehouse_report)
            out.write.mode("overwrite").parquet(f"{args.output}/{name}")
            wh[name] = spark.read.parquet(f"{args.output}/{name}").count()
        summary["warehouse"] = {
            "queries": wh,
            "wall_sec": round(time.monotonic() - t_wh, 2),
        }

    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
