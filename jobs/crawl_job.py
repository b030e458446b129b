"""spark-submit entry point for the crawl engine.

    spark-submit --py-files nde_crawlers_spark.zip jobs/crawl_job.py \
        --run-dir /data/crawl/run1 --seeds 100000 --hosts 500 \
        --rounds 5 --round-seconds 30 [--resume] \
        [--seen-filter exact|bloom|cuckoo]

On a cluster, drop --master handling and submit against YARN/K8s; the
engine itself is agnostic — all state lives under --run-dir (parquet in
the sandbox, Iceberg tables in production) and a killed run resumes from
the last committed round with --resume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/crawl_job.py` without --py-files (local dev path)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="nde_crawlers_spark crawl job")
    p.add_argument("--run-dir", required=True)
    p.add_argument("--seeds", type=int, default=10_000, help="synthetic seed count")
    p.add_argument("--hosts", type=int, default=100, help="synthetic host count")
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--round-seconds", type=int, default=30, help="politeness budget window")
    p.add_argument("--cores", type=int, default=None, help="local[] cores; omit on a cluster")
    p.add_argument("--resume", action="store_true")
    # the bloom seen filter and AutoThrottle are the SHIPPED defaults
    # (CrawlConfig)
    p.add_argument("--no-autothrottle", action="store_true",
                   help="disable per-host AutoThrottle delay adaptation")
    p.add_argument("--seen-filter", choices=["exact", "bloom", "cuckoo"], default="bloom",
                   help="unseen filter: the exact anti-join alone, or fronted by a "
                        "partitioned bloom or cuckoo membership filter")
    args = p.parse_args(argv)

    from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun
    from nde_crawlers_spark.session import get_spark
    from nde_crawlers_spark.sources.synthetic import make_seeds

    spark = get_spark(app_name="nde-crawl", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    cfg = CrawlConfig(
        num_hosts=args.hosts,
        round_seconds=args.round_seconds,
        max_rounds=args.rounds,
        seen_filter=args.seen_filter,
        autothrottle=not args.no_autothrottle,
    )
    run = CrawlRun(spark, args.run_dir, cfg)
    if args.resume:
        metas = run.run(resume=True)
    else:
        seeds = make_seeds(args.seeds, args.hosts)
        sdf = spark.createDataFrame(
            [(s["url"], s["priority"]) for s in seeds], ["url", "priority"]
        )
        metas = run.run(seeds=sdf)
    for m in metas:
        print(json.dumps(m))
    # one summary job, not one action per metric: documents/seen counts
    # and the byte total come from the per-round _COMMIT metas and one
    # lineage agg — on a big run dir separate count() actions each
    # re-scan their table
    rounds = run.committed_rounds()
    metas_by_round = [run._meta(r) for r in rounds]
    print(json.dumps({
        "rounds": len(rounds),
        "documents": sum(m["documents"] for m in metas_by_round),
        "seen": sum(m["new_seen"] for m in metas_by_round),
        "bytes": run.lineage().agg({"bytes": "sum"}).first()[0],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
