"""``corpus_takedown`` workload: the LLM-corpus lifecycle with index
reads beside takedown writes.

One client, closed loop. Setup lands a seeded crawl shard, builds the corpus
chain on the derivation engine, the MinHash / IVF / Hamming indexes and a
token-shard layout. The loop runs whole blocks: MinHash and IVF probes
around a takedown of a seeded id set across every surface under a standing
hold, a re-crawl of the shard through the hold filter plus an engine
dispatch, and a compaction of the three indexes. After the loop the checks
confirm that no taken-down or held id is reachable from any surface and
that live counts match the generator.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.harness import Run, median, parquet_files

#: one block of the closed loop, one request per slot: MinHash and IVF
#: probes, a takedown, a re-crawl of the shard, a compaction of the three
#: indexes, and the probes again. A run of any length measures whole
#: blocks, so the same mix.
BLOCK = ("minhash_probe", "ivf_probe", "takedown", "recrawl", "compact",
         "minhash_probe", "ivf_probe")
MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"), ("i", "n"),
          ("e", "r"), ("o", "n"), ("r", "e")]
ALPHABET = "abcdefghijklmnopqrstuvwxyz "
DOC_SCHEMA = "doc_id long, text string, lang string, source string"
N_CELLS = 4


class CorpusWorkload:
    BLOCK = BLOCK
    #: setups per run; setup_s is the session start plus their median. One:
    #: a cold corpus setup builds five surfaces and takes a third of a run,
    #: and a run is kept under a minute
    SETUPS = 1
    #: op kinds write_mean_s averages: takedowns, re-crawls and
    #: compactions, each rewrites stored surfaces
    WRITE_KINDS = ("write", "recrawl", "maintain")

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.docs = gen.corpus_docs(run.seed)
        self.by_id = {d.doc_id: d for d in self.docs}
        self.requests = gen.takedown_requests(run.seed, self.docs, 16)

    # ---- setup ---------------------------------------------------------
    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from georiva_spark.functions.frames import local_frame
        from georiva_spark.operators import dedup, similarity
        from georiva_spark.plans.engine import DerivationEngine, Trigger
        from georiva_spark.plans.recipe import CatalogContext, RecipeRegistry
        from georiva_spark.plans.recipes.corpus import (
            CorpusCleanRecipe, CorpusDatacardRecipe, CorpusShardStatsRecipe,
            corpus_product_definitions)
        from georiva_spark.sources.tables import export_token_shards

        spark, tr, run = self.spark, self.run.tracer, self.run
        base = run.path(f"corpus{rep}")
        self.corp = os.path.join(base, "corpus")
        self.out = os.path.join(base, "products")
        self.lay = os.path.join(base, "tokens")
        self.idx = os.path.join(base, "indexes")
        self.mh, self.hm, self.iv = (f"pb{rep}_mh", f"pb{rep}_hm",
                                     f"pb{rep}_iv")
        self.hold = f"pb{rep}_hold"
        with run.harness_jobs("perfbench-fixture"):
            (self._docs_frame(self.docs)
             .write.partitionBy("shard").parquet(self.corp))
        shards = sorted({d.shard for d in self.docs})
        items = [{"item_id": k + 1, "collection": "crawl-shards",
                  "variable": s, "time": None, "tier": "staging",
                  "checksum": f"crawl-{s}-v1"}
                 for k, s in enumerate(shards)]
        schemas: dict = {}

        def loader(it):
            if it["collection"] == "crawl-shards":
                # schema inferred once; the listing stays per call, so a
                # pruned or re-landed shard is always seen fresh
                reader = spark.read
                if "corpus" in schemas:
                    reader = reader.schema(schemas["corpus"])
                src = reader.parquet(self.corp)
                schemas["corpus"] = src.schema
                return (src.where(F.col("shard") == it["variable"])
                        .drop("shard"))
            return spark.read.parquet(
                os.path.join(self.out, f"unit={it['unit_hash']}"))

        self.loader = loader
        # the datacard side of the corpus chain (clean → per-shard stats →
        # datacard); the trainer token layout is the exported one below
        reg = RecipeRegistry()
        reg.register(CorpusCleanRecipe(config={"min_words": 20}))
        reg.register(CorpusShardStatsRecipe())
        reg.register(CorpusDatacardRecipe())
        self.engine = DerivationEngine(
            spark, reg, CatalogContext(spark, items, grid_loader=loader),
            output_dir=self.out,
            definitions=corpus_product_definitions(64, 2))
        with tr.span("plans.engine"):
            recs = self.engine.dispatch_for_triggers(
                [Trigger(kind="staging_item", item=it) for it in items])
        self.units = {"completed": sum(r.status == "completed"
                                       for r in recs),
                      "skipped": sum(r.status == "skipped" for r in recs)}
        docs = self._docs_frame(self.docs)
        with tr.span("operators.dedup"):
            dedup.minhash_index_write(docs.select("doc_id", "text"), self.mh,
                                      os.path.join(self.idx, "mh"),
                                      n_buckets=4)
            dedup.hamming_index_write(
                local_frame(spark, [(d.doc_id, gen.code(d.doc_id, run.seed))
                                    for d in self.docs],
                            "media_id long, code long"),
                self.hm, os.path.join(self.idx, "hm"), max_hamming=2,
                n_buckets=4)
        with tr.span("operators.similarity"):
            similarity.ivf_index_write(
                self._emb_frame([d.doc_id for d in self.docs]), self.iv,
                os.path.join(self.idx, "iv"), n_centroids=N_CELLS,
                train_iters=1)
        with tr.span("sources.tables"):
            export_token_shards(docs.drop("shard"), self.lay, MERGES,
                                context_len=64, num_shards=2,
                                extra_alphabet=ALPHABET)
        self.taken: list[int] = []
        self.recrawled: dict[str, int] = {}
        self.compactions = 0
        self.n_takedowns = 0

    def _docs_frame(self, docs):
        from georiva_spark.functions.frames import local_frame
        return local_frame(self.spark, [(d.doc_id, d.text, d.lang, d.source,
                                         d.shard) for d in docs],
                           DOC_SCHEMA + ", shard string")

    def _emb_frame(self, ids, id_col: str = "vec_id", noise: int = 0):
        from georiva_spark.functions.frames import local_frame
        rows = []
        for i in ids:
            v = gen.embedding(i, self.run.seed)
            if noise:
                v = [x + 1e-3 * ((i * 7 + k) % 5 - 2) for k, x in enumerate(v)]
            rows.append((i, v))
        return local_frame(self.spark, rows,
                           f"{id_col} long, embedding array<double>")

    # ---- requests ------------------------------------------------------
    def probe(self, i: int, kind: str) -> None:
        from georiva_spark.operators import dedup, similarity
        tr = self.run.tracer
        queries = gen.probe_queries(self.run.seed, self.docs, i)
        sources = [self.docs[k] for k in range(len(self.docs))
                   if any(q.text.startswith(self.docs[k].text + " ")
                          for q in queries)]
        state = {"taken": list(self.taken),
                 "sources": [d.doc_id for d in sources]}
        if kind == "minhash_probe":
            def fn():
                from georiva_spark.functions.frames import local_frame
                q = local_frame(self.spark, [(d.doc_id, d.text)
                                             for d in queries],
                                "doc_id long, text string")
                with tr.span("operators.dedup"):
                    return dedup.minhash_index_probe(
                        q, self.mh, threshold=0.8).collect()
            self.run.do("read", "minhash_probe", fn, state)
        else:
            ids = state["sources"]

            def fn():
                q = self._emb_frame(ids, "q_id", noise=1)
                with tr.span("operators.similarity"):
                    return similarity.ivf_index_probe_batch(
                        self.spark, self.iv, q, k=5, nprobe=2).collect()
            self.run.do("read", "ivf_probe", fn, state)

    def takedown(self) -> None:
        from georiva_spark.plans import takedown as td
        if self.n_takedowns >= len(self.requests):
            return
        ids = self.requests[self.n_takedowns]
        self.n_takedowns += 1
        tr = self.run.tracer

        def fn():
            with tr.span("plans.takedown"):
                return td.takedown(
                    self.spark, ids, minhash_indexes=[self.mh],
                    hamming_indexes=[self.hm], ivf_indexes=[self.iv],
                    token_layouts=[self.lay], corpus=(self.corp, self.engine),
                    hold_table=self.hold)
        op = self.run.do("write", "takedown", fn, {"ids": ids})
        if op.ok:
            self.taken.extend(ids)
            self.units["completed"] += sum(c["units_run"]
                                           for c in op.result["corpus"])

    def recrawl(self, round_no: int) -> None:
        """Re-deliver one shard: its full original content (held ids
        included) plus fresh documents, admitted through the hold filter,
        landed, re-checksummed and dispatched."""
        from pyspark.sql import functions as F

        from georiva_spark.plans.engine import Trigger
        from georiva_spark.plans.takedown import hold_filter
        shards = sorted({d.shard for d in self.docs})
        shard = shards[round_no % len(shards)]
        delivery = ([d for d in self.docs if d.shard == shard]
                    + gen.recrawl_extra(self.run.seed, shard, round_no))
        spark, tr = self.spark, self.run.tracer

        def fn():
            with tr.span("plans.takedown"):
                admitted = hold_filter(self._docs_frame(delivery), self.hold,
                                       "doc_id")
                old = spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode")
                spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                               "dynamic")
                try:
                    (admitted.write.mode("overwrite").partitionBy("shard")
                     .parquet(self.corp))
                finally:
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", old)
                d = (spark.read.parquet(self.corp)
                     .where(F.col("shard") == shard)
                     .agg(F.bit_xor(F.xxhash64("doc_id", "text"))
                          .alias("digest"),
                          F.count(F.lit(1)).alias("n")).head())
            item = next(it for it in self.engine.catalog.items
                        if it["collection"] == "crawl-shards"
                        and it["variable"] == shard)
            item["checksum"] = f"crawl-{shard}-{d.digest}-{d.n}"
            with tr.span("plans.engine"):
                recs = self.engine.dispatch_for_trigger(
                    Trigger(kind="staging_item", item=item),
                    origin="recrawl")
            return sum(1 for r in recs if r.status == "completed")
        op = self.run.do("recrawl", f"recrawl_{shard}", fn,
                         {"shard": shard, "round": round_no})
        if op.ok:
            self.recrawled[shard] = round_no
            self.units["completed"] += op.result

    def compact(self) -> None:
        from georiva_spark.operators import dedup, similarity
        self.compactions += 1
        c, tr = self.compactions, self.run.tracer

        def fn():
            with tr.span("operators.dedup"):
                dedup.minhash_index_compact(
                    self.spark, self.mh, os.path.join(self.idx, f"mh_c{c}"))
                dedup.hamming_index_compact(
                    self.spark, self.hm, os.path.join(self.idx, f"hm_c{c}"))
            with tr.span("operators.similarity"):
                similarity.ivf_index_compact(
                    self.spark, self.iv, os.path.join(self.idx, f"iv_c{c}"))
            return c
        self.run.do("maintain", "compact", fn)

    def step(self, i: int) -> None:
        slot = BLOCK[i % len(BLOCK)]
        if slot == "takedown":
            self.takedown()
        elif slot == "recrawl":
            self.recrawl(len([o for o in self.run.ops
                              if o.kind == "recrawl"]))
        elif slot == "compact":
            self.compact()
        else:
            self.probe(i, slot)

    # ---- correctness ---------------------------------------------------
    def check_op(self, op) -> bool:
        if not op.ok:
            return False
        if op.kind == "read":
            taken = set(op.state["taken"])
            if op.name == "minhash_probe":
                hits = {r.doc_old for r in op.result}
            else:
                hits = {r.vec_id for r in op.result}
                live = set(op.state["sources"]) - taken
                found = {r.q_id for r in op.result if r.vec_id == r.q_id}
                if not live <= found:
                    return False
            return not hits & taken and bool(op.result)
        if op.kind == "write":
            return op.result["n_ids"] == len(op.state["ids"]) \
                and op.result["hold"] == self.hold
        if op.kind == "recrawl":
            return op.result >= 1
        return True

    def expected_corpus(self) -> dict[int, str]:
        taken = set(self.taken)
        live = {d.doc_id: d.shard for d in self.docs
                if d.doc_id not in taken}
        for shard, r in self.recrawled.items():
            for d in gen.recrawl_extra(self.run.seed, shard, r):
                live[d.doc_id] = shard
        return live

    def verify(self) -> None:
        """No taken-down or held id is reachable from the corpus
        partitions, the engine products, the live indexes or the token
        layout, and live counts match the generator."""
        from georiva_spark.functions.frames import local_frame
        from georiva_spark.operators import dedup, similarity
        from georiva_spark.plans.takedown import hold_filter
        from georiva_spark.sources.tables import read_token_shards
        run, spark = self.run, self.spark
        taken = set(self.taken)
        if not taken:
            run.check(False, "no takedown completed")
            return
        want = self.expected_corpus()
        got = {r.doc_id: r.shard for r in
               spark.read.parquet(self.corp).select("doc_id", "shard")
               .collect()}
        run.check(got == want, f"corpus partitions hold {len(got)} docs, "
                               f"generator expects {len(want)}")
        clean = [it for it in self.engine.catalog.items
                 if it["collection"] == "corpus-clean"]
        clean_ids: set[int] = set()
        for it in clean:
            clean_ids |= {r.doc_id for r in self.loader(it)
                          .select("doc_id").collect()}
        run.check(bool(clean_ids) and clean_ids <= set(want),
                  "engine clean products reach a taken-down or unknown id")
        card = [it for it in self.engine.catalog.items
                if it["collection"] == "corpus-datacard"]
        n_card = sum(r.n_docs for r in self.loader(card[-1]).collect()) \
            if card else -1
        run.check(n_card == len(clean_ids),
                  f"datacard counts {n_card} docs, clean products hold "
                  f"{len(clean_ids)}")
        gone = [self.by_id[i] for i in sorted(taken)]
        q = local_frame(spark, [(d.doc_id + 10_000_000, d.text)
                                for d in gone], "doc_id long, text string")
        hits = {r.doc_old for r in
                dedup.minhash_index_probe(q, self.mh, threshold=0.5)
                .collect()}
        run.check(not hits & taken, "MinHash probe reaches a taken id")
        codes = local_frame(spark, [(d.doc_id + 10_000_000,
                                     gen.code(d.doc_id, run.seed))
                                    for d in gone],
                            "media_id long, code long")
        hits = {r.id_old for r in
                dedup.hamming_index_probe(codes, self.hm).collect()}
        run.check(not hits & taken, "Hamming probe reaches a taken id")
        emb = self._emb_frame([d.doc_id for d in gone], "q_id")
        hits = {r.vec_id for r in similarity.ivf_index_probe_batch(
            spark, self.iv, emb, k=10, nprobe=N_CELLS).collect()}
        run.check(not hits & taken, "IVF probe reaches a taken id")
        layout: set[int] = set()
        for r in read_token_shards(spark, self.lay).collect():
            layout.update(r.doc_ids)
        originals = {d.doc_id for d in self.docs}
        run.check(layout == originals - taken,
                  f"token layout holds {len(layout)} docs, expected "
                  f"{len(originals - taken)}")
        probe = local_frame(spark, [(i,) for i in sorted(originals)],
                            "doc_id long")
        admitted = {r.doc_id for r in
                    hold_filter(probe, self.hold, "doc_id").collect()}
        run.check(admitted == originals - taken,
                  "hold table does not hold exactly the taken-down ids")

    def context(self) -> dict:
        rc = [o.dur_s for o in self.run.ops if o.kind == "recrawl" and o.ok]
        return {
            "recrawl_p50_s": median(rc) if rc else None,
            "takedowns": self.n_takedowns,
            "ids_taken_down": len(self.taken),
            "compactions": self.compactions,
        }

    def engine_outputs(self) -> tuple[int, float]:
        return parquet_files(self.out)

    def index_files(self) -> tuple[int, int]:
        """Data files under the MinHash + Hamming and the IVF index paths."""
        def count(prefixes):
            return sum(parquet_files(os.path.join(self.idx, p))[0]
                       for p in os.listdir(self.idx)
                       if p.split("_")[0] in prefixes)
        return count(("mh", "hm")), count(("iv",))
