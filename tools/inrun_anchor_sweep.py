"""In-run DuckDB anchor sweep for non-basket flagships.

bench.py carries same-run anchors for the comparable-11 basket and the
sf1 sections (round-10); everything else in BASELINE.md's ratio tables
was anchored cross-session on a VM with documented ±2-3× noise.  This
tool re-anchors any registry query the same-minute way through
``bench.measure``: warm both engines, then ALTERNATE timed Spark and
DuckDB passes on the same data in the same process, and print a
markdown row per query (medians + ratio).

A query whose construction registers a checkpoint is run FULL-COST —
construct+execute per pass — because a warm re-execution would time
only the post-checkpoint tail; any other query re-executes one built
plan.  The protocol column says which.

Run: python tools/inrun_anchor_sweep.py [query ...] [--sf DIR] [--passes N]
Defaults to the round-10 ratio-weak set at sf0.1.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SET = [
    "text_quality_scores",
    "text_tfidf_top_terms",
    "text_bm25_topk",
    "text_nb_classifier",
    "text_repetition_scores",
    "text_ngram_novelty",
    "text_lm_trigram_scores",
    "text_lang_id_ngram",
    "text_frequent_tokens",
    "corpus_perplexity_filter",
    "corpus_ccnet_partition",
    "metric_dspot_threshold",
    "metric_dspot_anomaly_hours",
]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf = "/root/testdata/sf0.1"
    n_passes = 3
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    if "--passes" in args:
        i = args.index("--passes")
        n_passes = int(args[i + 1])
        del args[i : i + 2]
    names = args or DEFAULT_SET

    import bench
    from prometheus_anomaly_detection_lstm_spark.registry import all_queries
    from prometheus_anomaly_detection_lstm_spark.session import get_spark

    spark = get_spark("inrun-anchors")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    con = bench._duck_connect(sf)

    print(f"| query | Spark median{n_passes} (s) | DuckDB median{n_passes} (s) | in-run ratio | protocol |")
    print("|---|---|---|---|---|")
    for name in names:
        fn, sql = queries[name]
        if sql is None:
            print(f"| {name} | - | - | - | no oracle |")
            continue
        got = bench.measure(
            spark, {name: lambda: fn(spark, sf)}, n_passes, con=con, sql=sql
        )
        proto = (
            "warm plan" if got.frames[name] is not None
            else "full-cost (construct+exec)"
        )
        print(
            f"| {name} | {got[name]} | {got[f'{name}_duck_sec']} "
            f"| {got[f'{name}_inrun_ratio']}× | {proto} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
