"""r13 scale smoke: the one-call takedown's cost shape at 2M docs —
O(affected), never O(corpus).

A 200-id takedown request lands on a 2M-doc / 8-shard corpus (the
scale_smoke_llm synthetic template shape) with a full derivation
chain (clean → datacard + token-shard manifest) and a physical
token-shard trainer layout. The claims measured:

1. AFFECTED SCAN is a pushed-down id probe: the In predicate reaches
   the parquet scan reading only (doc_id, shard) — seconds on 2M,
   and row-group-pruned at 100 TB.
2. CORPUS LEG costs O(affected shards): the request hits 2 of the 8
   shards, so the prune rewrites 2 partitions and the engine
   recomputes 2 clean units + bounded merges; the 6 untouched
   partitions' files stay byte-identical (mtime+size-pinned).
3. TRAINER-LAYOUT LEG costs O(affected bins): 200 ids touch at most
   200 of ~20k bins; the rewrite is a small fraction of the full
   export that built the layout.
4. IDEMPOTENT RERUN is near-free: the affected scan finds nothing,
   the engine T3-skips on the recommitted checksums, the layout
   finds zero affected files.
5. The TRAINER-LAYOUT LEG's Spark job count follows the request, not
   the layout: the same 2-shard request against the layout and
   against a layout with 4× its shards (4× the untouched shards)
   runs the same number of jobs.

Usage: python tools/scale_smoke_takedown.py [n_docs]
Prints one timing line per stage; writes only under temp dirs.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F

from georiva_spark.session import get_spark
from georiva_spark.testing import jobs_in_group

L = 50
V = 50_000
T = 5
LANGS = ("en", "de", "fr", "es", "zh")
MERGES = [("t", "e"), ("te", "m"), ("p", "l"), ("d", "o"), ("do", "c")]
N_SHARDS = 8


def corpus(spark, n: int):
    base = F.col("id")
    tmpl = (base / T).cast("long")
    m = base % T
    mutpos = F.pmod(F.xxhash64(base, F.lit(7)), F.lit(L))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(L - 1)),
        lambda i: F.concat(F.lit("w"), F.pmod(
            F.when((m >= 2) & (i == mutpos), F.xxhash64(base, i))
            .otherwise(F.xxhash64(tmpl, i)), F.lit(V)).cast("string")))
    text = F.concat(F.lit("the "), F.array_join(toks, " "))
    return spark.range(n).select(
        base.alias("doc_id"), text.alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                     (tmpl % len(LANGS) + 1).cast("int")).alias("lang"),
        F.concat(F.lit("src"), (tmpl % 20).cast("string"))
        .alias("source"),
        F.concat(F.lit("shard-"),
                 (base % N_SHARDS).cast("string")).alias("shard"))


def main(n: int = 2_000_000) -> None:
    from georiva_spark.plans.engine import DerivationEngine, Trigger
    from georiva_spark.plans.recipe import (CatalogContext,
                                            RecipeRegistry)
    from georiva_spark.plans.recipes.corpus import (
        CorpusCleanRecipe, CorpusDatacardRecipe,
        CorpusShardStatsRecipe, CorpusShardTokensRecipe,
        CorpusTokenShardsRecipe, corpus_product_definitions,
    )
    from georiva_spark.plans.takedown import takedown
    from georiva_spark.sources.tables import (
        export_token_shards, export_token_shards_takedown,
        read_token_shards)

    spark = get_spark("scale-smoke-takedown",
                      extra_conf={"spark.driver.memory": "48g"})
    base = tempfile.mkdtemp(prefix="georiva_takedown_smoke_")
    corp = os.path.join(base, "corpus")
    out = os.path.join(base, "out")
    lay = os.path.join(base, "layout")
    audit = os.path.join(base, "audit")
    try:
        t0 = time.time()
        corpus(spark, n).write.partitionBy("shard").parquet(corp)
        print(f"land {n} docs / {N_SHARDS} shards: "
              f"{time.time() - t0:.1f}s")

        def loader(it):
            if it["collection"] == "crawl-shards":
                return (spark.read.parquet(corp)
                        .where(F.col("shard") == it["variable"])
                        .drop("shard"))
            return spark.read.parquet(
                os.path.join(out, f"unit={it['unit_hash']}"))

        items = [{"item_id": k + 1, "collection": "crawl-shards",
                  "variable": f"shard-{k}", "time": None,
                  "tier": "staging", "checksum": f"crawl-{k}-v1"}
                 for k in range(N_SHARDS)]
        ctx = CatalogContext(spark, list(items), grid_loader=loader)
        reg = RecipeRegistry()
        reg.register(CorpusCleanRecipe(config={"min_words": 5}))
        reg.register(CorpusShardStatsRecipe())
        reg.register(CorpusShardTokensRecipe(
            MERGES, config={"context_len": 512, "num_shards": 64}))
        reg.register(CorpusDatacardRecipe())
        reg.register(CorpusTokenShardsRecipe())
        eng = DerivationEngine(
            spark, reg, ctx, output_dir=out,
            definitions=corpus_product_definitions(512, 64))
        t0 = time.time()
        for it in items:
            eng.dispatch_for_trigger(Trigger(kind="staging_item",
                                             item=it))
        build_s = time.time() - t0
        print(f"engine chain, {N_SHARDS} shard arrivals: "
              f"{build_s:.1f}s")

        t0 = time.time()
        export_token_shards(
            corpus(spark, n).drop("shard"), lay, MERGES,
            context_len=512, num_shards=64,
            extra_alphabet="abcdefghijklmnopqrstuvwxyz0123456789 ")
        export_s = time.time() - t0
        print(f"full token-shard export: {export_s:.1f}s")

        # 200 ids in 2 of the 8 shards (shard = doc_id % 8)
        ids = [8 * i + 1 for i in range(100)] \
            + [8 * i + 5 for i in range(100)]
        untouched = {}
        for d in os.listdir(corp):
            if d.startswith("shard=") and d not in (
                    "shard=shard-1", "shard=shard-5"):
                p = os.path.join(corp, d)
                untouched[d] = sorted(
                    (f, os.path.getsize(os.path.join(p, f)),
                     os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p) if f.endswith(".parquet"))

        t0 = time.time()
        aud, jobs = jobs_in_group(spark, "smoke-takedown", lambda: takedown(
            spark, ids, corpus=(corp, eng), token_layouts=[lay],
            audit_dir=audit))
        td_s = time.time() - t0
        shards = [c["shard"] for c in aud["corpus"]]
        print(f"TAKEDOWN (200 ids -> shards {shards}): {td_s:.1f}s, "
              f"{jobs} Spark jobs "
              f"({td_s / (build_s + export_s):.2f}x of build+export)")
        assert shards == ["shard-1", "shard-5"], shards
        for d, snap in untouched.items():
            p = os.path.join(corp, d)
            now = sorted(
                (f, os.path.getsize(os.path.join(p, f)),
                 os.path.getmtime(os.path.join(p, f)))
                for f in os.listdir(p) if f.endswith(".parquet"))
            assert now == snap, f"untouched partition {d} changed"
        total = spark.read.parquet(corp).count()
        assert total == n - len(ids), (total, n - len(ids))
        gone = (spark.read.parquet(lay)
                .where(F.arrays_overlap(
                    "doc_ids",
                    F.array(*[F.lit(i).cast("long") for i in ids])))
                .count())
        assert gone == 0, gone
        print(f"untouched partitions byte-identical; corpus "
              f"{n} -> {total}; layout holds none of the ids")

        t0 = time.time()
        again = takedown(spark, ids, corpus=(corp, eng),
                         token_layouts=[lay], audit_dir=audit)
        rerun_s = time.time() - t0
        assert all(c["units_run"] == 0 for c in again["corpus"])
        print(f"idempotent rerun (scan finds nothing, T3 skips, "
              f"zero affected files): {rerun_s:.1f}s")

        # the trainer-layout leg alone, one request against the layout
        # and against one with 4x its shards: the request's docs sit in
        # shards 0 and 1 of both (shard = hash mod num_shards, and 64
        # divides 256), so only the untouched shard count grows
        lay4 = os.path.join(base, "layout4")
        export_token_shards(
            corpus(spark, n).drop("shard"), lay4, MERGES,
            context_len=512, num_shards=4 * 64,
            extra_alphabet="abcdefghijklmnopqrstuvwxyz0123456789 ")
        # at most a quarter of a 256-shard directory's docs, so no
        # file empties: an emptied file costs one more write job
        per_shard = max(1, min(100, n // (4 * 256)))
        ids2 = [r.d for k in (0, 1) for r in
                read_token_shards(spark, lay4, shard=k)
                .select(F.explode("doc_ids").alias("d"))
                .limit(per_shard).collect()]
        leg = {}
        for name, p in (("64 shards", lay), ("256 shards", lay4)):
            t0 = time.time()
            man, leg[name] = jobs_in_group(
                spark, f"smoke-token-leg-{len(leg)}",
                lambda p=p: export_token_shards_takedown(spark, p, ids2))
            print(f"TOKEN LEG ({len(ids2)} ids -> 2 shards) on "
                  f"{name}: {time.time() - t0:.1f}s, {leg[name]} Spark "
                  f"jobs, {sum(r.n_bins for r in man.collect())} bins")
            # the one step that must see every file: list the root and
            # scan each file's doc_ids (rerun here; the ids are gone)
            t0 = time.time()
            spark.read.parquet(p).where(F.arrays_overlap(
                "doc_ids", F.array(*[F.lit(i).cast("long")
                                     for i in ids2]))).count()
            print(f"  of which the affected scan alone: "
                  f"{time.time() - t0:.1f}s")
        assert len(set(leg.values())) == 1, leg

        # r13 retention leg: EXPIRE one whole shard (250k docs) —
        # partition gone atomically, engine rebuilds merges from the
        # 7 remaining partials, datacard converges
        from georiva_spark.plans.takedown import expire_shards
        t0 = time.time()
        exp = expire_shards(spark, corp, eng, ["shard-7"])
        exp_s = time.time() - t0
        assert not os.path.isdir(os.path.join(corp, "shard=shard-7"))
        total = spark.read.parquet(corp).count()
        assert total == n - len(ids) - (n // N_SHARDS), total
        print(f"EXPIRE shard-7 ({n // N_SHARDS} docs, engine rebuild "
              f"{exp.get('rebuild_units', 0)} units): {exp_s:.1f}s "
              f"({exp_s / build_s:.2f}x of the full chain build)")
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000)
