"""r7 smoke: the persistent Hamming index at 1M perceptual codes.

Duplicate-HEAVY corpus (the black-frame/silence shape): 1M media items
whose codes come from only ~100k distinct values, with a hot code
shared by 10% of the corpus. The index must stay pre-collapsed —
band rows = distinct codes × bands, NOT items × bands — and a probe's
cost must track the DELTA, not the corpus or the hot group.

Usage: python tools/scale_smoke_hamming.py [n_items]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from georiva_spark.operators import dedup
from georiva_spark.session import get_spark


def main(n=1_000_000, distinct=100_000):
    spark = get_spark("scale-smoke-hamming",
                      extra_conf={"spark.driver.memory": "48g"})
    # 10% of items share ONE hot code; the rest draw from `distinct`
    # pseudo-random 64-bit codes
    hot = 0x5A5A5A5A5A5A
    code = (F.when(F.col("id") % 10 == 0, F.lit(hot))
            .otherwise(F.xxhash64(F.pmod(F.xxhash64("id"),
                                         F.lit(distinct)))))
    items = (spark.range(n)
             .select(F.col("id").alias("media_id"),
                     code.alias("code")).persist())
    items.count()

    root = tempfile.mkdtemp(prefix="ham_smoke_")
    t0 = time.perf_counter()
    dedup.hamming_index_write(items, "t_smk_ham",
                              os.path.join(root, "h"),
                              max_hamming=2, bits=64, n_buckets=64)
    el = time.perf_counter() - t0
    nb = spark.table("t_smk_ham_bands").count()
    nd = items.select("code").distinct().count()
    print(f"index write: {el:.1f}s over {n/1e6:.1f}M items -> "
          f"{nb} band rows = {nd} distinct codes x 3 bands "
          f"(pre-collapse holds: {nb == nd * 3})")

    # delta probe: 10k items, half near the hot code, half novel
    delta = (spark.range(10_000)
             .select((F.col("id") + 10_000_000).alias("media_id"),
                     F.when(F.col("id") % 2 == 0,
                            F.lit(hot ^ 1))
                     .otherwise(F.xxhash64(F.col("id") + 7))
                     .alias("code")))
    delta = delta.persist()
    delta.count()
    t0 = time.perf_counter()
    pairs = dedup.hamming_index_probe(delta, "t_smk_ham")
    # the hot group expands to 5k x 100k PAIRS — inherent to the pair
    # contract; this number demonstrates why the lookup exists
    nmatch = pairs.select("id_old").distinct().count()
    el = time.perf_counter() - t0
    print(f"pair probe (10k delta; hot-group expansion): {el:.1f}s -> "
          f"{nmatch} distinct matched index items")

    t0 = time.perf_counter()
    lk = dedup.hamming_index_lookup(delta, "t_smk_ham")
    nlk = lk.count()
    # the hot group is every tenth item
    nhot = lk.where(F.col("n_matched_items") >= n // 10).count()
    el = time.perf_counter() - t0
    print(f"LINEAR lookup (same 10k delta): {el:.1f}s -> {nlk} items "
          f"with matches, {nhot} against the hot group — one row "
          f"each, no pair expansion")

    # append the delta TWICE: r8's (ref, id) membership anti-join makes
    # the un-guarded replay a no-op; its cost is the pruned existing-
    # membership scan (delta refs broadcast-semi against 1M ids) — the
    # same class as the band-side seen-refs scan the append always paid
    t0 = time.perf_counter()
    dedup.hamming_index_append(delta, "t_smk_ham")
    el1 = time.perf_counter() - t0
    n_ids1 = spark.table("t_smk_ham_ids").count()
    t0 = time.perf_counter()
    dedup.hamming_index_append(delta, "t_smk_ham")
    el2 = time.perf_counter() - t0
    n_ids2 = spark.table("t_smk_ham_ids").count()
    print(f"append 10k delta: {el1:.1f}s -> {n_ids1} members; "
          f"REPLAYED append: {el2:.1f}s -> {n_ids2} members "
          f"(idempotent: {n_ids1 == n_ids2})")
    assert n_ids1 == n_ids2 == n + 10_000

    for s in ("bands", "ids"):
        spark.sql(f"DROP TABLE IF EXISTS t_smk_ham_{s}")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000)
