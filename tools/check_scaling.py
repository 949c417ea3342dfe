#!/usr/bin/env python3
"""Scaling-legs-only validation of bench.py's pairs (skips the query
suite): primary 2→8 at scale_docs, saturated 8→32 at sat_docs."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import _host_spin_ceiling, _pinned_leg, stage_corpus  # noqa: E402
from oxidizepdf_spark.table_io import default_cpus, get_spark  # noqa: E402


def main():
    cpus = default_cpus()
    scale_docs = 150_000
    sat_docs = scale_docs * 6
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    stage_corpus(spark, scale_docs, seed=7)
    stage_corpus(spark, sat_docs, seed=7)
    spark.stop()

    leg2 = _pinned_leg(2, scale_docs, seed=7, warm=1, timed=2)
    leg8 = _pinned_leg(8, scale_docs, seed=7, warm=2, timed=3)
    leg8s = _pinned_leg(8, sat_docs, seed=7, warm=1, timed=2)
    leg32 = _pinned_leg(cpus, sat_docs, seed=7, warm=2, timed=3)

    def eff(a, b):
        return b["docs_per_sec"] / ((b["cores"] / a["cores"]) * a["docs_per_sec"])

    spin_sat = _host_spin_ceiling(8, cpus)
    out = {
        "primary": {"N": leg2, "4N": leg8, "efficiency": round(eff(leg2, leg8), 4)},
        "saturated": {
            "docs": sat_docs, "N": leg8s, "4N": leg32,
            "efficiency": round(eff(leg8s, leg32), 4),
            "host_spin_ceiling": round(spin_sat, 4),
            "normalized_efficiency": round(eff(leg8s, leg32) / spin_sat, 4),
        },
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
