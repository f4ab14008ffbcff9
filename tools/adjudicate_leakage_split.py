"""Adjudicate leakage_safe_split's scale behavior across bench tiers
(round-7 verdict #2): its r6→r7 sf1 single shots moved 12.3→19.8 s
(4.7× for 10× data vs the family's ~2×) with no spread recorded and no
cause named. This probe makes the candidate causes observable:

- CC-round growth: the alternating-star closure's round count must stay
  FLAT in data size (Kiveris et al. §5; operators/clustering.py) — read
  through leakage_safe_split's ``stats`` hook. A pair graph of at most
  ``LOCAL_MAX_EDGES`` edges is resolved on the driver and reports 0
  rounds; ``cc_edges`` says which side of the cap a tier fell on.
- Workload growth: the sf1 twin recipe multiplies true near-dup pairs
  ~45× (every pair becomes a 10×10 block), so the closure's EDGE input
  grows super-linearly even though docs grow 10× — rows-per-second, not
  wall clock, is the scale claim to judge.
- AQE join flips / plan shape: wall split per stage (pairs vs closure
  vs split assignment).

Usage: python tools/adjudicate_leakage_split.py [sf_dir ...]
       (default: /root/testdata/sf0.1 and .benchdata/sf1 if present)
Prints one JSON line per tier: {sf_dir, n_docs, n_pairs, cc_edges, cc_rounds,
n_components, wall_pairs_s, wall_split_s, rows_out}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pixie_spark.operators import dedup as dd  # noqa: E402
from pixie_spark.operators.sampling import leakage_safe_split  # noqa: E402
from pixie_spark.session import get_spark  # noqa: E402
from pixie_spark.sources import load_table  # noqa: E402


def probe(spark, sf_dir: str) -> dict:
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t0 = time.time()
    pairs = dd.minhash_lsh_verified_pairs(
        doc, "doc_id", "text", n=5, num_hashes=64, bands=64, threshold=0.5
    ).localCheckpoint()  # materialize so the two stages time separately
    n_pairs = pairs.count()
    wall_pairs = round(time.time() - t0, 3)
    stats: dict = {}
    t1 = time.time()
    out = leakage_safe_split(doc, pairs, seed=0, stats=stats)
    rows_out = out.count()
    wall_split = round(time.time() - t1, 3)
    n_comp = out.select("cluster_rep").distinct().count()
    return {
        "sf_dir": sf_dir,
        "n_docs": doc.count(),
        "n_pairs": n_pairs,
        "cc_edges": stats.get("edges"),
        "cc_rounds": stats.get("rounds"),
        "n_components": n_comp,
        "wall_pairs_s": wall_pairs,
        "wall_split_s": wall_split,
        "rows_out": rows_out,
    }


def main() -> None:
    tiers = sys.argv[1:] or [
        d
        for d in (
            "/root/testdata/sf0.1",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                ".benchdata", "sf1",
            ),
        )
        if os.path.isdir(d)
    ]
    spark = get_spark("adjudicate_leakage_split")
    results = [probe(spark, t) for t in tiers]
    for r in results:
        print(json.dumps(r))
    if len(results) == 2 and all(r["cc_rounds"] is not None for r in results):
        r1, r10 = results
        # the scale invariant: closure rounds flat (±1 round of slack —
        # convergence detection may need one extra confirm pass)
        assert r10["cc_rounds"] <= r1["cc_rounds"] + 1, (
            f"CC rounds grew with data: {r1['cc_rounds']} -> "
            f"{r10['cc_rounds']} — the alternating-star closure must stay "
            f"flat (Kiveris et al.)"
        )
        print(
            f"OK rounds flat: {r1['cc_rounds']} -> {r10['cc_rounds']}; "
            f"pairs {r1['n_pairs']} -> {r10['n_pairs']} "
            f"({r10['n_pairs'] / max(1, r1['n_pairs']):.1f}x), "
            f"split wall {r1['wall_split_s']} -> {r10['wall_split_s']} s"
        )


if __name__ == "__main__":
    main()
