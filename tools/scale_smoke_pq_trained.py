"""r8 smoke: trained per-subspace PQ codebooks (+ residual encoding)
vs the pinned shared codebook — ADC recall on a corpus built to defeat
pinning.

The r7 verdict's one weak component: the pinned PQ codebook is 2^nbits
hash-order corpus rows shared across all m subspaces, encoding raw
vectors. On uniform blobs it looks fine; on the REAL embedding shape —
blobs with unequal variance and correlated dims — the shared untrained
codebook inflates ADC error exactly where distances are close. This
smoke builds such a corpus (16 blobs, per-blob σ spanning 0.1–2.0,
noise mixed through a fixed dense matrix so dims are correlated),
writes the PQ index four ways (pinned / trained / trained+residual /
trained+residual on a 10% md5-bucket training sample — the FAISS
practice that decouples training cost from corpus size; same TRAINED
coarse quantizer for all so the comparison isolates the codebook), and
measures:

- mean ADC recall@10 vs exact L2 over 24 query vectors (stage-1
  quality — what the shortlist is made of);
- mean shortlist-100 recall of the exact top-10 (what refine can
  recover — a true neighbor missing here is unrecoverable).

Pinned expectation (asserted): trained+RESIDUAL codebooks at least
DOUBLE the pinned codebook's ADC recall@10 AND its shortlist-100
recall (measured r8 at 100k: 0.092 vs 0.025 ADC, 0.283 vs 0.083
shortlist — 3.4–3.7×). Raw-trained (non-residual) is reported but not
asserted: without residual centering the blob offsets dominate both
codebooks equally and the difference is query-sample noise — the
recall win comes from residual + per-subspace training together,
which is why residual=True is the recommended production setting.

Run: python tools/scale_smoke_pq_trained.py [n_vectors]
"""

import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from georiva_spark.operators import similarity  # noqa: E402
from georiva_spark.session import get_spark  # noqa: E402


def main(n=100_000, d=64, blobs=16, n_queries=24):
    spark = get_spark()
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(blobs, d)) * 4.0
    sigmas = np.geomspace(0.1, 2.0, blobs)          # unequal variance
    mix = rng.normal(size=(d, d)) / np.sqrt(d)      # correlated dims
    ids = np.arange(n)
    noise = rng.normal(size=(n, d)) @ mix
    data = centers[ids % blobs] + noise * sigmas[ids % blobs][:, None]

    import pandas as pd
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids,
                      "embedding": list(data.astype(np.float64))}),
        "vec_id long, embedding array<double>")
    emb = emb.repartition(32).persist()
    emb.count()
    root = tempfile.mkdtemp(prefix="pqtr_smoke_")

    qids = [int(q) for q in rng.choice(n, size=n_queries, replace=False)]
    exact = {}
    for q in qids:
        dist = ((data - data[q]) ** 2).sum(axis=1)
        dist[q] = np.inf
        exact[q] = set(np.argsort(dist)[:10].tolist())

    variants = (("pinned", dict(codebook_iters=0, residual=False)),
                ("trained", dict(codebook_iters=2, residual=False)),
                ("resid", dict(codebook_iters=2, residual=True)),
                # FAISS-style sampled training: Lloyd rounds see a 10%
                # md5-bucket sample — training cost decouples from
                # corpus size, recall must hold
                ("resid_s10", dict(codebook_iters=2, residual=True,
                                  train_sample_ppm=100_000)),
                # r9: OPQ-P learned rotation (Ge et al. 2013) on top
                # of trained+residual — decorrelates the mixed dims
                # this corpus is built from, the exact failure OPQ
                # addresses
                ("opq", dict(codebook_iters=2, residual=True,
                             opq=True)),
                # r10: NON-PARAMETRIC OPQ (Ge et al. §5) — 2
                # alternating codebook/rotation iterations on the
                # OPQ-P init; must hold (>=) the OPQ-P recall
                ("opq_np", dict(codebook_iters=2, residual=True,
                                opq=True, opq_np_iters=2)))
    recall = {}
    for tag, kw in variants:
        t0 = time.time()
        similarity.ivf_index_write(
            emb, f"t_pqs_{tag}", os.path.join(root, tag),
            n_centroids=blobs, m=8, nbits=4, train_iters=2,
            seed_ids=list(range(blobs)), **kw)
        dt = time.time() - t0
        r10, rsl = [], []
        t1 = time.time()
        for q in qids:
            qv = [float(v) for v in data[q]]
            top = similarity.ivf_index_probe(
                spark, f"t_pqs_{tag}", qv, k=100, nprobe=4,
                exclude_vec_id=q).collect()
            got10 = {r.vec_id for r in top[:10]}
            got100 = {r.vec_id for r in top}
            r10.append(len(got10 & exact[q]) / 10)
            rsl.append(len(got100 & exact[q]) / 10)
        recall[tag] = (float(np.mean(r10)), float(np.mean(rsl)))
        print(f"{tag:8s}: write {dt:.1f}s  probe {time.time()-t1:.1f}s  "
              f"ADC recall@10={recall[tag][0]:.3f}  "
              f"shortlist-100 recall of exact top-10={recall[tag][1]:.3f}")

    assert recall["resid"][0] >= 2 * recall["pinned"][0], (
        f"trained+residual ADC recall {recall['resid'][0]:.3f} does not "
        f"double pinned {recall['pinned'][0]:.3f}")
    assert recall["resid"][1] >= 2 * recall["pinned"][1], (
        f"trained+residual shortlist recall {recall['resid'][1]:.3f} "
        f"does not double pinned {recall['pinned'][1]:.3f}")
    # sampled training keeps the residual win (within noise of full).
    # The 2× bound is calibrated at the 100k smoke scale — at smaller
    # n the pinned baseline is much less weak (20k measured: pinned
    # 0.196 vs 0.083 at 100k) and the ratio compresses, so below the
    # calibrated scale the assert degrades to ≥ (sampling never
    # loses to pinned)
    s10_floor = (2 * recall["pinned"][1] if n >= 100_000
                 else recall["pinned"][1])
    assert recall["resid_s10"][1] >= s10_floor, (
        f"10%-sample-trained shortlist recall "
        f"{recall['resid_s10'][1]:.3f} lost the residual win "
        f"(pinned {recall['pinned'][1]:.3f}, n={n})")
    print("PASS: trained+residual codebooks beat the pinned codebook "
          "where it is weak (unequal-variance correlated blobs), and "
          "the 10%-sample training keeps the win")

    assert recall["opq"][1] >= recall["resid"][1], (
        f"OPQ shortlist recall {recall['opq'][1]:.3f} fell below "
        f"residual-only {recall['resid'][1]:.3f}")
    print("PASS: OPQ rotation holds (>=) the residual recall on the "
          "correlated-dim corpus")

    assert recall["opq_np"][1] >= recall["opq"][1] - 1e-9, (
        f"non-parametric OPQ shortlist recall "
        f"{recall['opq_np'][1]:.3f} fell below OPQ-P "
        f"{recall['opq'][1]:.3f}")
    print("PASS: non-parametric OPQ holds (>=) the OPQ-P recall")

    for tag, _ in variants:
        for s in ("", "_centroids", "_codebook", "_rotation"):
            spark.sql(f"DROP TABLE IF EXISTS t_pqs_{tag}{s}")
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 100_000)
