"""Skew-handling evidence: collapse an adversarially hot changelog.

Generates a changelog where one conversation receives ``HOT_FRAC`` of all
events (a pathological hot key — the north rule's "salted repartitioning
for hot keys" scenario), then times lww_collapse's strategies:

  * window (default): rank-1 row_number per (conv_id, turn_idx). The hot
    conversation still splits across turn_idx, and the map-side
    WindowGroupLimit drops duplicates before the shuffle, so skew mostly
    vanishes before the exchange.
  * salted max_by: two-phase (key+salt, then key) — the belt-and-braces
    path for keys so hot a single reducer would still choke.

Prints one JSON line with both walls and the equal-result check.

    python tools/skew_probe.py [n_events] [hot_frac]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    hot_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5

    from pyspark.sql import functions as F

    from datacollector_spark.operators.collapse import lww_collapse
    from datacollector_spark.session import get_spark
    from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog

    spark = get_spark("skew-probe", master="local[8]", shuffle_partitions=8)
    base = generate_changelog(
        spark, ChangelogSpec(n_events=n_events, n_conversations=2000, min_text_chars=256)
    )
    # reroute hot_frac of events to ONE conversation (turn_idx spread stays)
    hot = F.when(
        F.pmod(F.col("lsn"), F.lit(1000)) < int(hot_frac * 1000), F.lit("conv-hot")
    ).otherwise(F.col("conv_id"))
    skewed = base.withColumn("conv_id", hot).persist()
    n = skewed.count()

    def timeit(df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return round(best, 2)

    window = lww_collapse(skewed)
    salted = lww_collapse(skewed, salt_buckets=16)
    w_window = timeit(window)
    w_salt = timeit(salted)
    rows_a = window.count()
    rows_b = salted.count()
    print(
        json.dumps(
            {
                "events": n,
                "hot_frac": hot_frac,
                "window_wall_s": w_window,
                "salted_wall_s": w_salt,
                "rows_window": rows_a,
                "rows_salted": rows_b,
                "equal_rows": rows_a == rows_b,
            }
        )
    )


if __name__ == "__main__":
    main()
