"""BPE-at-100-TB-vocabulary probe (r11 VERDICT #2 / SCALING.md row).

The histogram-local trainer covers vocabularies up to ~2M word types
(one Arrow group). A web-scale corpus has tens of millions of types;
above the bound the only path is distributed rounds, and serial rounds
(~seconds each) make 10k merges infeasible. This probe measures the
BATCHED non-interacting-merge rounds on a histogram ABOVE the local
bound:

1. Synthesize a deterministic >=5M-distinct-type histogram with
   realistic merge structure (skewed syllable heads give a spread pair
   spectrum; a base-26 id suffix guarantees distinctness) and Zipf
   counts.
2. Train n_merges=1000 on the batched distributed path; record wall
   and the number of distributed rounds (the rounds-reduction is the
   headline).
3. Train a 30-merge SERIAL sample (max_batch_merges=1) for the
   per-round cost, extrapolate serial 1000, and assert the batched
   merge list's prefix equals the serial one (the equivalence theorem,
   spot-checked at scale on top of the fuzz/pin tests).

Run:  python scripts/bpe_scale_probe.py [--types 5000000] [--merges 1000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SYLLABLES = [
    "th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha", "at", "en",
]


def synth_histogram(spark, n_types: int):
    """(word, cnt) with ``n_types`` DISTINCT words: two skewed
    syllables (floor(sqrt(u)) over a hashed uniform — wider buckets at
    higher indices, so pair counts spread instead of tying flat) plus
    the id in base 26 (bijective -> distinct), Zipf counts."""
    from pyspark.sql import functions as F

    def syl(mix: int):
        u = (F.col("id") * F.lit(mix)) % 144
        idx = (F.floor(F.sqrt(u)) % 12 + 1).cast("int")
        return F.element_at(F.array(*[F.lit(s) for s in SYLLABLES]), idx)

    return spark.range(n_types).select(
        F.concat(
            syl(2654435761), syl(40503), F.lower(F.conv(F.col("id"), 10, 26))
        ).alias("word"),
        F.greatest(
            F.lit(1), F.floor(F.lit(2_000_000) / (F.col("id") + 1))
        ).cast("long").alias("cnt"),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--types", type=int, default=5_000_000)
    ap.add_argument("--merges", type=int, default=1_000)
    ap.add_argument("--serial-sample", type=int, default=30)
    ap.add_argument(
        "--pair-maintenance", default="incremental",
        choices=("incremental", "recount"),
        help="pair-table mode for the batched run (the SCALING.md "
        "r12 A/B rows compare the two)",
    )
    ap.add_argument(
        "--seg-maintenance", default="overlay",
        choices=("overlay", "rewrite"),
        help="segmentation mode for the batched run (the SCALING.md "
        "r13 A/B rows compare the overlay against the r12 "
        "full-rewrite floor)",
    )
    ap.add_argument(
        "--compact-rows", type=int, default=1_000_000,
        help="overlay compaction threshold (rows)",
    )
    ap.add_argument(
        "--compact-depth", type=int, default=16,
        help="overlay compaction threshold (stale-predicate depth)",
    )
    args = ap.parse_args()

    from swarm_spark import get_spark
    from swarm_spark.ops.bpe import bpe_train

    spark = get_spark()
    hist = synth_histogram(spark, args.types).localCheckpoint()
    n = hist.count()
    print(f"histogram: {n} types", file=sys.stderr)

    st: dict = {}
    t0 = time.time()
    merges_b, _seg = bpe_train(
        hist, args.merges, local_max_words=None, stats_out=st,
        pair_maintenance=args.pair_maintenance,
        seg_maintenance=args.seg_maintenance,
        overlay_compact_rows=args.compact_rows,
        overlay_compact_depth=args.compact_depth,
    )
    wall_b = time.time() - t0

    wall_s = 0.0
    if args.serial_sample > 0:
        t0 = time.time()
        merges_s, _ = bpe_train(
            hist, args.serial_sample, local_max_words=None, max_batch_merges=1
        )
        wall_s = time.time() - t0
        assert merges_b[: len(merges_s)] == merges_s, (
            "batched prefix != serial merges — equivalence violated"
        )
    per_round_serial = wall_s / max(1, args.serial_sample)

    out = {
        "types": n,
        "pair_maintenance": args.pair_maintenance,
        "seg_maintenance": args.seg_maintenance,
        "compactions": st.get("compactions"),
        "phase_s": st.get("phase_s"),
        "merges": len(merges_b),
        "batched_rounds": st.get("rounds"),
        "batched_wall_s": round(wall_b, 2),
        "merges_per_round": round(len(merges_b) / max(1, st.get("rounds", 1)), 1),
        "serial_sample_merges": args.serial_sample,
        "serial_sample_wall_s": round(wall_s, 2),
        "serial_per_round_s": round(per_round_serial, 2),
        "serial_extrapolated_wall_s": round(per_round_serial * args.merges, 1),
        "speedup_vs_serial": round(
            (per_round_serial * args.merges) / wall_b, 1
        ),
        "prefix_equivalence": True,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
