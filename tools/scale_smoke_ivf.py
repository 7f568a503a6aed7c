"""r7 smoke: trained-vs-sampled IVF quantizer balance on a CLUSTERED
corpus, and PQ index compression ratio.

Real embedding corpora are clustered by construction; the sampled
(pinned) quantizer's risk is a hot cell absorbing a large corpus
fraction. This smoke builds 500k 64-d vectors in 16 tight blobs, writes
the persistent index both ways, and reports max-cell/mean-cell — the
number that decides whether a probe reads ~nprobe/C of the corpus or
the hot-cell fraction. Then it writes the PQ index (m=8, nbits=4) and
reports on-disk bytes vs the float index.

Run: python tools/scale_smoke_ivf.py [n_vectors]
"""

import glob
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from georiva_spark.operators import similarity  # noqa: E402
from georiva_spark.session import get_spark  # noqa: E402


def main(n=500_000, d=64, blobs=16):
    spark = get_spark()
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(blobs, d)) * 6.0

    def gen(it):
        import pandas as pd
        for pdf in it:
            ids = pdf["id"].to_numpy()
            base = centers[ids % blobs]
            v = base + np.random.default_rng(ids[0]).normal(
                scale=0.4, size=(len(ids), d))
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": list(v.astype(np.float64))})

    emb = (spark.range(n).withColumnRenamed("id", "id")
           .mapInPandas(gen, "vec_id long, embedding array<double>"))
    root = tempfile.mkdtemp(prefix="ivf_smoke_")
    out = {}

    for tag, iters in (("sampled", 0), ("trained", 2)):
        t0 = time.time()
        similarity.ivf_index_write(
            emb, f"t_smk_{tag}", os.path.join(root, tag),
            n_centroids=blobs, train_iters=iters,
            seed_ids=list(range(blobs)) if iters else None)
        dt = time.time() - t0
        sizes = [r.n for r in spark.sql(
            f"SELECT cell, COUNT(*) n FROM t_smk_{tag} GROUP BY cell"
        ).collect()]
        ratio = max(sizes) / (sum(sizes) / len(sizes))
        out[tag] = (dt, ratio, len(sizes))
        print(f"{tag}: write {dt:.1f}s  cells={len(sizes)}  "
              f"max/mean={ratio:.2f}  sizes[:4]={sorted(sizes)[:4]}")

    # probe the trained index: planted twin of vector 0 must rank top
    q = emb.where("vec_id = 0").head().embedding
    t0 = time.time()
    top = similarity.ivf_index_probe(spark, "t_smk_trained", q, k=10,
                                     nprobe=2, exclude_vec_id=0).collect()
    dt = time.time() - t0
    same_blob = sum(1 for r in top if r.vec_id % blobs == 0)
    print(f"trained probe: {dt:.2f}s  top10-from-query-blob={same_blob}/10")

    # r9: the recall-calibration harness at 500k — the sizing loop a
    # production user runs before committing to an nprobe: ~50 md5-
    # sampled queries, exact ground truth (one corpus scan vs the
    # broadcast sample), probes through the serving path
    t0 = time.time()
    ladder = similarity.ann_recall_estimate(
        spark, "t_smk_trained", k=10, nprobes=(1, 2, 4),
        sample_ppm=100).collect()
    dt = time.time() - t0
    lad = {r.nprobe: r.recall for r in ladder}
    nq = ladder[0].n_queries
    print(f"recall ladder ({nq} queries, {dt:.1f}s): "
          + "  ".join(f"nprobe={p}: {lad[p]:.3f}" for p in sorted(lad)))
    assert lad[1] <= lad[2] <= lad[4]

    # PQ index: bytes vs float index
    t0 = time.time()
    similarity.ivf_index_write(emb, "t_smk_pq",
                               os.path.join(root, "pq"),
                               n_centroids=blobs, m=8, nbits=4)
    print(f"pq write: {time.time() - t0:.1f}s")

    def du(path):
        return sum(os.path.getsize(f) for f in
                   glob.glob(os.path.join(path, "**", "*"),
                             recursive=True) if os.path.isfile(f))

    fb, pb = du(os.path.join(root, "sampled")), du(os.path.join(root, "pq"))
    print(f"float index bytes={fb:,}  pq index bytes={pb:,}  "
          f"ratio={fb / pb:.1f}x")
    t0 = time.time()
    ptop = similarity.ivf_index_probe(spark, "t_smk_pq", q, k=10,
                                      nprobe=2,
                                      exclude_vec_id=0).collect()
    psame = sum(1 for r in ptop if r.vec_id % blobs == 0)
    print(f"pq probe: {time.time() - t0:.2f}s  "
          f"top10-from-query-blob={psame}/10")

    for t in ("t_smk_sampled", "t_smk_trained", "t_smk_pq"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}_centroids")
    spark.sql("DROP TABLE IF EXISTS t_smk_pq_codebook")
    shutil.rmtree(root, ignore_errors=True)
    skewed_tune_stage(spark, n=n, d=d, blobs=blobs)




def skewed_tune_stage(spark, n=500_000, d=64, blobs=16,
                      sample_ppm=200):
    """r12 (the r11 verdict's item 6): ann_tune's MEASURED pricing on
    a realistically skewed index, at scale. One hot blob holds 80% of
    the corpus and the quantizer splits it across TWO cells (two seed
    centroids inside it), so a hot query's true top-k straddles the
    cell boundary: nprobe=1 caps recall, nprobe=2 restores it, and
    shortlist fights 4-bit ADC noise independently. The analytic
    proxy nprobe·⌈N/C⌉ prices the second probe at a uniform cell
    (N/C rows); the real second cell is the hot twin — the measured
    column prices it honestly. The stage prints the full grid under
    both rankings and the product-target window (if any) where they
    SELECT DIFFERENT settings — the decision the proxy gets wrong."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(blobs, d)) * 6.0
    # blob 0 = 80% of ids; blobs 1..15 share the rest
    def gen(it):
        import pandas as pd
        for pdf in it:
            ids = pdf["id"].to_numpy()
            tail = (ids % 10) >= 8
            blob = np.where(tail, 1 + ((ids // 10) % (blobs - 1)), 0)
            v = centers[blob] + np.random.default_rng(
                int(ids[0]) + 1).normal(scale=0.4, size=(len(ids), d))
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": list(v.astype(np.float64))})

    emb = spark.range(n).mapInPandas(
        gen, "vec_id long, embedding array<double>")
    root = tempfile.mkdtemp(prefix="ivf_skew_")
    # seeds: TWO inside the hot blob (ids 0 and 10 — both blob 0, far
    # apart in noise), one per tail blob (id 8+10(b-1) lands in blob b)
    seeds = [0, 10] + [8 + 10 * (b - 1) for b in range(1, blobs - 1)]
    t = "t_smk_skew"
    t0 = time.time()
    # train_iters>0 is what makes seed_ids take effect (pinned-cents
    # ignores them): two Lloyd rounds from the seeds keep the two hot
    # seeds splitting the hot blob into twin ~40%-cells
    similarity.ivf_index_write(emb, t, os.path.join(root, "skew"),
                               n_centroids=blobs, m=8, nbits=4,
                               seed_ids=seeds, train_iters=2,
                               train_sample_ppm=100_000)
    wt = time.time() - t0
    sizes = sorted(r["count"] for r in
                   spark.table(t).groupBy("cell").count().collect())
    print(f"skewed-pq write {wt:.1f}s  cells={len(sizes)}  "
          f"sizes min/max={sizes[0]}/{sizes[-1]}  "
          f"max/mean={sizes[-1]/(n/len(sizes)):.2f}")

    # the flip-capable grid shape: the shortlist GAP (50k) sits
    # between the proxy's price for the second probe (⌈N/C⌉≈31k) and
    # its real price (the hot twin cell, ~110k at n=500k) — so among
    # settings meeting a mid-window recall target, the proxy prefers
    # buying the extra probe while the measured column prefers the
    # bigger re-rank, and they SELECT DIFFERENT settings
    nprobes, shortlists = (1, 2), (10_000, 60_000)
    t0 = time.time()
    grid = similarity.ann_recall_estimate(
        spark, t, k=10, nprobes=nprobes, shortlist=shortlists,
        emb=emb, sample_ppm=sample_ppm).collect()
    props = {r.key: r.value for r in
             spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
    mc = {r["nprobe"]: r["__mc"] for r in
          similarity._measured_candidates(
              spark, t, props, nprobes, sample_ppm, emb,
              "recall").collect()}
    el = time.time() - t0
    per_probe = (n + blobs - 1) // blobs
    rows = sorted(((r.nprobe, r.shortlist, r.recall,
                    r.nprobe * per_probe + r.shortlist,
                    mc[r.nprobe] + r.shortlist) for r in grid))
    print(f"grid ({grid[0].n_queries} queries, {el:.1f}s) — "
          f"proxy prices every probe at ceil(N/C)={per_probe}:")
    for np_, sl, rec, cp, cm in rows:
        print(f"  nprobe={np_} shortlist={sl:>6}: recall={rec:.3f}  "
              f"proxy_cost={cp:>7}  measured_cost={cm:>9.0f}")
    print(f"  measured mc(1)={mc[1]:.0f} vs proxy {per_probe} "
          f"({mc[1]/per_probe:.1f}x under-priced by the proxy); "
          f"mc(2)-mc(1)={mc[2]-mc[1]:.0f} vs proxy +{per_probe}")
    assert mc[1] > 2 * per_probe      # the hot cell, size-biased

    # the selection flip: product targets where the two rankings
    # choose DIFFERENT settings
    flips = []
    recs = sorted({round(r[2], 6) for r in rows})
    for tgt in recs:
        ok = [r for r in rows if round(r[2], 6) >= tgt]
        pick_p = min(ok, key=lambda r: (r[3], -r[2], r[0], r[1]))
        pick_m = min(ok, key=lambda r: (r[4], -r[2], r[0], r[1]))
        if (pick_p[0], pick_p[1]) != (pick_m[0], pick_m[1]):
            flips.append((tgt, pick_p, pick_m))
    for tgt, pp, pm in flips[:3]:
        print(f"  FLIP at target {tgt:.3f}: proxy picks "
              f"(nprobe={pp[0]}, shortlist={pp[1]}) cost={pp[3]}, "
              f"measured picks (nprobe={pm[0]}, shortlist={pm[1]}) "
              f"cost={pm[4]:.0f}")
        choice = similarity.ann_tune(
            spark, t, target_recall=tgt, k=10, nprobes=nprobes,
            shortlist=shortlists, emb=emb,
            sample_ppm=sample_ppm).head()
        assert (choice.nprobe, choice.shortlist) == (pm[0], pm[1]), \
            (choice, pm)
    if not flips:
        print("  no flip at any realized target (grid too coarse)")
    for s in ("", "_centroids", "_codebook"):
        spark.sql(f"DROP TABLE IF EXISTS {t}{s}")
    shutil.rmtree(root, ignore_errors=True)
    return bool(flips)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 500_000)
