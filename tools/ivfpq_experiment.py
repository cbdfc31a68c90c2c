"""Measure the IVF-PQ nprobe trade: recall@20 vs fraction of the corpus
scanned (code rows read), at sf0.01 and sf0.1. Evidence for the SCALE.md
claim that nprobe is the recall/read knob; run after PQ/IVF changes:

    python tools/ivfpq_experiment.py
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from music_streaming_etl_glue_spark.operators import similarity as sim  # noqa: E402
from music_streaming_etl_glue_spark.session import get_spark  # noqa: E402
from music_streaming_etl_glue_spark.sources.catalog import load_table  # noqa: E402


def main() -> None:
    spark = get_spark("ivfpq_experiment")
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        embs = load_table(spark, sf, "embeddings")
        n = embs.count()
        exact = [r.vec_id for r in sim.ann_topk_bruteforce(embs).collect()]
        full = {
            r.vec_id
            for r in sim.ann_topk_pq_rerank(embs).collect()
        }
        print(f"\n{sf} (n={n})")
        print(f"  full-scan PQ+rerank recall@20: {len(set(exact) & full) / len(exact):.2f}")
        with tempfile.TemporaryDirectory() as d:
            path = d + "/idx"
            sim.write_ivfpq_layout(embs, path)
            cells = (
                spark.read.parquet(path)
                .groupBy("assigned_label")
                .count()
                .collect()
            )
            sizes = {r.assigned_label: r["count"] for r in cells}
            for nprobe in (1, 2, 3, 5, 8):
                got = {
                    r.vec_id
                    for r in sim.ann_topk_ivfpq(
                        spark, embs, path, nprobe=nprobe
                    ).collect()
                }
                rec = len(set(exact) & got) / len(exact)
                # read fraction = rows in the nprobe probed cells / n —
                # the probe list the operator derives
                _, _, probes = sim._probe_cells(
                    spark, embs, path, sim.QUERY_VEC_ID, nprobe
                )
                frac = sum(sizes.get(p, 0) for p in probes) / n
                print(
                    f"  nprobe={nprobe}: recall@20={rec:.2f} "
                    f"rows_read={frac:.2f} of corpus (codes only)"
                )


if __name__ == "__main__":
    main()
