"""Corpus products on the derivation engine (r11 — the r10 verdict's
item 2): the crawl→clean→{datacard, token-shards} chain gets the
raster side's T2–T5 semantics — a new crawl shard triggers exactly
its downstream units (T2 + the declared DAG), unchanged shards skip
on input_hash (T3), a rollup triggered before any clean data parks
and resurrects (T4), and a re-crawled shard invalidates transitively
(T5) with the recomputed outputs matching a from-scratch build."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from georiva_spark.plans.declarations import build_chain_graph
from georiva_spark.plans.engine import DerivationEngine, Trigger
from georiva_spark.plans.recipe import CatalogContext, RecipeRegistry
from georiva_spark.plans.recipes.corpus import (
    CorpusCleanRecipe, CorpusDatacardRecipe, CorpusShardStatsRecipe,
    CorpusShardTokensRecipe, CorpusTokenShardsRecipe,
    corpus_product_definitions,
)

T0 = dt.datetime(2024, 1, 1)
MERGES = [("a", "b"), ("ab", "c")]
SCHEMA = "doc_id long, text string, lang string, source string"


def _texts():
    """Two crawl shards: passing docs carry a stopword and >=3 words;
    shard-0 has an exact-dup pair (keeper = min doc_id) and a
    too-short reject."""
    return {
        "shard-0": [
            (1, "the abc abd quick fox", "en", "web"),
            (2, "the abc abd quick fox", "en", "web"),   # exact dup
            (3, "of abc abc words here", "de", "web"),
            (4, "tiny", "en", "web"),                    # gate reject
        ],
        "shard-1": [
            (10, "and abc de xyz words", "en", "books"),
            (11, "to abc abc abc words", "en", "web"),
        ],
        "shard-0b": [                                    # the re-crawl
            (1, "the abc abd quick fox", "en", "web"),
            (5, "in abc fresh crawl words", "fr", "web"),
        ],
    }


def _harness(spark, tmp_path, definitions=None):
    texts = _texts()
    items = [
        {"item_id": 1, "collection": "crawl-shards",
         "variable": "shard-0", "time": T0, "tier": "staging",
         "checksum": "crawl-0-v1"},
        {"item_id": 2, "collection": "crawl-shards",
         "variable": "shard-1", "time": T0, "tier": "staging",
         "checksum": "crawl-1-v1"},
    ]
    out_dir = str(tmp_path / "out")
    state = {"recrawled": False}

    def loader(it):
        if it["collection"] == "crawl-shards":
            key = it["variable"]
            if key == "shard-0" and state["recrawled"]:
                key = "shard-0b"
            return spark.createDataFrame(texts[key], SCHEMA)
        import os
        return spark.read.parquet(
            os.path.join(out_dir, f"unit={it['unit_hash']}"))

    ctx = CatalogContext(spark, items, grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    reg.register(CorpusShardStatsRecipe())
    reg.register(CorpusShardTokensRecipe(
        MERGES, config={"context_len": 8, "num_shards": 2}))
    reg.register(CorpusDatacardRecipe())
    reg.register(CorpusTokenShardsRecipe())
    defs = (corpus_product_definitions(context_len=8, num_shards=2)
            if definitions is None else definitions)
    eng = DerivationEngine(spark, reg, ctx, output_dir=out_dir,
                           definitions=defs)
    return eng, items, state


def _card(eng, spark, out_dir=None):
    it = next(i for i in eng.catalog.items
              if i["collection"] == "corpus-datacard")
    return {(r.lang, r.source): (r.n_docs, r.n_tokens, r.n_chars)
            for r in eng.catalog._grid_loader(it).collect()}


def test_corpus_chain_t2_t3_routing_and_idempotency(spark, tmp_path):
    eng, items, _ = _harness(spark, tmp_path)
    # T2: shard-0 arrival runs ITS clean unit and chains both rollups
    eng.dispatch_for_trigger(Trigger(kind="staging_item",
                                     item=items[0]))
    by_origin = {}
    for r in eng.runs.values():
        by_origin.setdefault(r.origin, []).append(r)
    assert len(by_origin[None]) == 1          # one clean unit, not two
    assert {r.status for r in eng.runs.values()} == {"completed"}
    assert sorted(o for o in by_origin if o) == [
        "chain:corpus-datacard", "chain:corpus-shard-stats",
        "chain:corpus-shard-tokens", "chain:corpus-token-shards"]
    # clean semantics: dup collapsed (keeper doc 1), reject dropped
    card = _card(eng, spark)
    assert card == {("en", "web"): (1, 5, 21), ("de", "web"): (1, 5, 21)}
    # shard-1 arrival: clean-1 runs, rollups RECOMPUTE (inputs grew)
    eng.dispatch_for_trigger(Trigger(kind="staging_item",
                                     item=items[1]))
    card = _card(eng, spark)
    assert card[("en", "books")] == (1, 5, 20)
    assert card[("en", "web")] == (2, 10, 41)
    # T3: an unchanged shard re-arrival skips its unit and (because
    # the skip never emits derivation.completed) re-runs no rollup
    n_runs = len(eng.runs)
    out = eng.dispatch_for_trigger(Trigger(kind="staging_item",
                                           item=items[1]))
    assert [r.status for r in out] == ["skipped"]
    assert len(eng.runs) == n_runs
    # declared DAG shape: clean feeds exactly the two rollups
    g = build_chain_graph(corpus_product_definitions())
    assert set(g.nodes) == {"crawl-shards", "corpus-clean",
                            "corpus-shard-stats", "corpus-shard-tokens",
                            "corpus-datacard", "corpus-token-shards"}
    # incremental by construction: the per-shard token partial equals
    # what arrived, and the merge is a bounded-frame sum
    tok = next(i for i in eng.catalog.items
               if i["collection"] == "corpus-token-shards")
    man = {r.shard: (r.n_bins, r.n_docs, r.n_tokens)
           for r in eng.catalog._grid_loader(tok).collect()}
    assert sum(v[1] for v in man.values()) == 4   # clean docs total


def test_corpus_rollup_t4_parks_and_resurrects(spark, tmp_path):
    # no declarations -> no auto-chaining; drive the rollup by hand
    eng, items, _ = _harness(spark, tmp_path, definitions=[])
    card_recipe = eng.registry.get("corpus_datacard")
    rec = eng.run_unit(card_recipe, {"scope": "corpus"})
    assert rec.status == "not_ready"          # T4: parked, by name
    assert "missing inputs" in rec.reason
    # upstream appears (no auto-chain: definitions empty — drive the
    # partial by hand), then the resurrection sweep completes the merge
    eng.dispatch_for_trigger(Trigger(kind="staging_item",
                                     item=items[0]))
    eng.run_unit(eng.registry.get("corpus_shard_stats"),
                 {"shard": "shard-0"})
    res = eng.sweep_not_ready()               # resurrection sweep
    assert [r.status for r in res] == ["completed"]
    assert _card(eng, spark)[("en", "web")] == (1, 5, 21)


def test_corpus_recrawl_t5_invalidates_transitively(spark, tmp_path):
    eng, items, state = _harness(spark, tmp_path)
    for it in items:
        eng.dispatch_for_trigger(Trigger(kind="staging_item", item=it))
    # re-crawl shard-0: content + checksum change, NO event — the
    # stale sweep must find the clean unit via the recorded input
    # hash and the chain must carry the recompute to both rollups
    state["recrawled"] = True
    items[0]["checksum"] = "crawl-0-v2"
    clean0 = next(i for i in eng.catalog.items
                  if i["collection"] == "corpus-clean"
                  and i["variable"] == "shard-0")
    affected = eng.invalidate_downstream([items[0]["item_id"]])
    assert clean0["item_id"] in affected      # lineage closure walks
    swept = eng.sweep_stale()
    assert any(r.status == "completed" for r in swept)
    # recomputed datacard == a from-scratch build of the grown corpus
    texts = _texts()
    fresh = (spark.createDataFrame(
        texts["shard-0b"] + texts["shard-1"], SCHEMA))
    from georiva_spark.operators.textops import gopher_rules
    g = gopher_rules(fresh, min_words=3, max_words=1000,
                     min_mean_word_len=1.0, max_mean_word_len=10.0,
                     max_symbol_ratio=0.1, max_bullet_ratio=0.9,
                     min_stopword_hits=1)
    surv = fresh.join(g.where(F.col("gopher_pass")).select("doc_id"),
                      "doc_id", "left_semi")
    want = {(r.lang, r.source): (r.n_docs,)
            for r in surv.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs")).collect()}
    got = {k: (v[0],) for k, v in _card(eng, spark).items()}
    assert got == want
    assert ("de", "web") not in got           # doc 3 left with v2
    assert got[("fr", "web")] == (1,)         # doc 5 arrived
    # a second sweep finds nothing stale (fixpoint)
    assert eng.sweep_stale() == []


def test_corpus_stream_ingest_chains_and_replays_idempotently(
        spark, tmp_path):
    """T1 over the corpus chain (r11): crawl-shard files land, each
    micro-batch overwrites exactly its shards' corpus partitions
    (dynamic overwrite), registers content-checksummed staging items,
    and dispatches the engine — the chain refreshes datacard + token
    manifest per batch. Re-landing an identical shard replays the
    whole path and every unit SKIPS on input_hash: no duplicate rows,
    no recompute."""
    import os

    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    os.makedirs(land)
    texts = _texts()

    def land_file(name, rows, shard):
        df = spark.createDataFrame(
            [(d, t, lg, s, shard) for d, t, lg, s in rows],
            SCHEMA + ", shard string")
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(land, f"{name}.parquet"))

    def loader(it):
        if it["collection"] == "crawl-shards":
            return (spark.read.parquet(corp)
                    .where(F.col("shard") == it["variable"])
                    .drop("shard"))
        return spark.read.parquet(
            os.path.join(out, f"unit={it['unit_hash']}"))

    ctx = CatalogContext(spark, [], grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    reg.register(CorpusShardStatsRecipe())
    reg.register(CorpusShardTokensRecipe(
        MERGES, config={"context_len": 8, "num_shards": 2}))
    reg.register(CorpusDatacardRecipe())
    reg.register(CorpusTokenShardsRecipe())
    eng = DerivationEngine(
        spark, reg, ctx, output_dir=out,
        definitions=corpus_product_definitions(8, 2))

    def run_stream(**kw):
        q = start_corpus_ingest(
            spark, land, corp, str(tmp_path / "ck"), eng,
            max_files_per_trigger=1, available_now=True, **kw)
        q.awaitTermination()

    land_file("f0", texts["shard-0"], "s0")
    land_file("f1", texts["shard-1"], "s1")
    run_stream()
    # two batches (one file each), chain complete, rollup correct
    origins = {r.origin for r in eng.runs.values()}
    assert {"corpus-stream-batch-0", "corpus-stream-batch-1"} & origins
    card = _card(eng, spark)
    assert card[("en", "web")] == (2, 10, 41)
    assert card[("en", "books")] == (1, 5, 20)
    n_units = len(eng.runs)
    stamps = {r.unit_hash: r.updated_at for r in eng.runs.values()}
    # replay: the SAME shard content lands again as a new file — the
    # partition rewrite is byte-equivalent, the checksum unchanged,
    # and the engine skips everything (no rollup recompute)
    land_file("f2", texts["shard-1"], "s1")
    run_stream()
    assert len(eng.runs) == n_units
    clean1 = next(r for r in eng.runs.values()
                  if r.recipe_id == "corpus_clean"
                  and '"s1"' in r.unit_key)
    assert clean1.status == "skipped"
    for r in eng.runs.values():
        if r.recipe_id != "corpus_clean":
            assert r.updated_at == stamps[r.unit_hash]   # untouched
    assert _card(eng, spark) == card
    # no duplicate rows in the corpus table
    n_rows = spark.read.parquet(corp).count()
    assert n_rows == len(texts["shard-0"]) + len(texts["shard-1"])
    # a CHANGED re-crawl of the same shard under the default policy
    # FAILS BY NAME (r12 — indistinguishable from a straddled
    # delivery), and nothing is overwritten
    land_file("f3", texts["shard-0b"], "s0")
    with pytest.raises(Exception, match="already exists with "
                                        "different content"):
        run_stream()
    assert spark.read.parquet(corp).count() == n_rows   # untouched
    # with the explicit atomic-redelivery opt-in it recomputes the
    # clean unit and the chain (T5)
    run_stream(recrawl="recompute")
    card2 = _card(eng, spark)
    assert ("fr", "web") in card2 and ("de", "web") not in card2


def test_corpus_stream_grows_token_layout_exactly_once(
        spark, tmp_path):
    """token_layout= on the corpus stream: each arrived shard's CLEAN
    docs append to the physical trainer layout via the exactly-once
    generation delta — the first shard bootstraps (vocab pins, marker
    committed), a replayed identical shard leaves every layout file
    byte-identical, and a re-crawled shard FAILS BY NAME (an immutable
    training layout never silently swaps a generation)."""
    import hashlib
    import os

    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    lay = str(tmp_path / "layout")
    os.makedirs(land)
    texts = _texts()

    def land_file(name, rows, shard):
        df = spark.createDataFrame(
            [(d, t, lg, s, shard) for d, t, lg, s in rows],
            SCHEMA + ", shard string")
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(land, f"{name}.parquet"))

    def loader(it):
        if it["collection"] == "crawl-shards":
            return (spark.read.parquet(corp)
                    .where(F.col("shard") == it["variable"])
                    .drop("shard"))
        return spark.read.parquet(
            os.path.join(out, f"unit={it['unit_hash']}"))

    ctx = CatalogContext(spark, [], grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    eng = DerivationEngine(spark, reg, ctx, output_dir=out,
                           definitions=[])

    def run_stream(**kw):
        q = start_corpus_ingest(
            spark, land, corp, str(tmp_path / "ck"), eng,
            max_files_per_trigger=1, available_now=True,
            token_layout=lay, merges=MERGES, context_len=8,
            num_shards=2,
            token_alphabet="abcdefghijklmnopqrstuvwxyz", **kw)
        q.awaitTermination()

    land_file("f0", texts["shard-0"], "s0")
    run_stream()                                  # bootstrap
    from georiva_spark.sources.tables import read_token_shards
    docs0 = {d for r in read_token_shards(spark, lay).collect()
             for d in r.doc_ids}
    assert docs0 == {1, 3}                        # clean s0 keepers
    land_file("f1", texts["shard-1"], "s1")
    run_stream()                                  # delta generation
    rows = read_token_shards(spark, lay).collect()
    assert {d for r in rows for d in r.doc_ids} == {1, 3, 10, 11}

    def hashes():
        # loader-visible DATA files only: the replay no-op re-stamps
        # the advisory manifest sidecar (same content, fresh name)
        return {f: hashlib.md5(open(os.path.join(lay, d, f), "rb")
                               .read()).hexdigest()
                for d in os.listdir(lay) if d.startswith("shard=")
                for f in os.listdir(os.path.join(lay, d))
                if f.endswith(".parquet")}

    snap = hashes()
    land_file("f2", texts["shard-1"], "s1")       # identical replay
    run_stream()
    assert hashes() == snap                       # byte-identical
    # re-crawled shard: even with the atomic-redelivery opt-in, the
    # layout is immutable — fail by name at the duplicate guard
    land_file("f3", texts["shard-0b"], "s0")
    with pytest.raises(Exception, match="already exist"):
        run_stream(recrawl="recompute")


def test_corpus_chain_ledger_mode_distributed_stale_scan(
        spark, tmp_path):
    """The corpus chain in LEDGER mode (the 100-TB residency story):
    runs/lineage live in the parquet event tables, and the T5 stale
    sweep finds a re-crawled shard's clean unit through the
    DISTRIBUTED stale_units_df planner (lineage ⋈ catalog checksums,
    hash recomputed in Spark) — then re-runs it and chains the rollup
    recomputes, exactly as the in-memory mode does."""
    eng, items, state = _harness(spark, tmp_path)
    eng.attach_ledger(str(tmp_path / "ledger"))
    for it in items:
        eng.dispatch_for_trigger(Trigger(kind="staging_item", item=it))
    card0 = _card(eng, spark)
    assert card0[("en", "web")] == (2, 10, 41)
    state["recrawled"] = True
    items[0]["checksum"] = "crawl-0-v2"
    # the distributed planner must name exactly the clean-0 unit
    stale = eng.stale_units_df().collect()
    assert len(stale) == 1
    assert '"shard-0"' in stale[0].unit_key
    assert stale[0].recipe_type == "corpus_clean"
    swept = eng.sweep_stale()
    assert any(r.status == "completed" for r in swept)
    got = _card(eng, spark)
    assert ("fr", "web") in got and ("de", "web") not in got
    assert eng.stale_units_df().count() == 0     # fixpoint
    # the ledger tables carry the corpus lineage: the datacard item
    # derives from every per-shard stats partial, each of which
    # derives from its clean shard (the T5 walk is multi-hop)
    lin = eng.lineage_df()
    stat_ids = {i["item_id"] for i in eng.catalog.items
                if i["collection"] == "corpus-shard-stats"}
    card_id = next(i["item_id"] for i in eng.catalog.items
                   if i["collection"] == "corpus-datacard")
    srcs = {r.source_item_id for r in
            lin.where(F.col("derived_item_id") == card_id).collect()}
    assert srcs == stat_ids
    clean0_id = next(i["item_id"] for i in eng.catalog.items
                     if i["collection"] == "corpus-clean"
                     and i["variable"] == "shard-0")
    hop = {r.derived_item_id for r in
           lin.where(F.col("source_item_id") == clean0_id).collect()}
    assert hop & stat_ids                     # clean → partial edge


def test_corpus_products_enable_gating(spark):
    """products.py structural invariant holds over the corpus DAG:
    a rollup cannot be enabled before corpus-clean."""
    from georiva_spark.plans.products import (
        ProductActionError, ProductRow, enable_product,
    )
    defs = corpus_product_definitions()
    rows = {d.key: ProductRow(d.key) for d in defs}
    with pytest.raises(ProductActionError):
        enable_product(defs, rows, "corpus-datacard")
    enable_product(defs, rows, "corpus-clean")
    with pytest.raises(ProductActionError):      # partial still off
        enable_product(defs, rows, "corpus-datacard")
    enable_product(defs, rows, "corpus-shard-stats")
    enable_product(defs, rows, "corpus-datacard")
    assert rows["corpus-datacard"].is_enabled


# ---- r12: atomic-delivery contract, near-dup retraction, manifests --------

SEED_TEXT = ("the quick brown fox jumps over the lazy dog and runs "
             "far away into the deep green forest tonight")
NOVEL_A = ("a completely fresh crawl document about bucketed band "
           "joins and the distinct code pre collapse at corpus scale")
NOVEL_C = ("yet another unrelated page describing zonal statistics "
           "over rotated pole grids in the reference engine")


def _mk_engine(spark, corp, out):
    import os

    def loader(it):
        if it["collection"] == "crawl-shards":
            return (spark.read.parquet(corp)
                    .where(F.col("shard") == it["variable"])
                    .drop("shard"))
        return spark.read.parquet(
            os.path.join(out, f"unit={it['unit_hash']}"))

    ctx = CatalogContext(spark, [], grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    return DerivationEngine(spark, reg, ctx, output_dir=out,
                            definitions=[])


def _land(spark, tmp_path, land, name, rows, shard):
    import os
    df = spark.createDataFrame(
        [(d, t, "en", "web", shard) for d, t in rows],
        SCHEMA + ", shard string")
    tmp = str(tmp_path / f"stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part),
               os.path.join(land, f"{name}.parquet"))


def test_corpus_stream_rejects_straddled_delivery(spark, tmp_path):
    """The high r11 ADVICE item: one shard's files split across two
    micro-batches would silently truncate the shard partition under
    dynamic overwrite — the default policy now fails the batch BY
    NAME before anything is overwritten."""
    import os

    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    os.makedirs(land)
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))
    # ONE delivery of shard sA split over two files; with
    # maxFilesPerTrigger=1 the second file lands in a second batch
    _land(spark, tmp_path, land, "f0", [(1, SEED_TEXT)], "sA")
    _land(spark, tmp_path, land, "f1", [(2, NOVEL_A)], "sA")
    q = start_corpus_ingest(spark, land, corp, str(tmp_path / "ck"),
                            eng, max_files_per_trigger=1,
                            available_now=True)
    with pytest.raises(Exception,
                       match="already exists with different content"):
        q.awaitTermination()
    # the committed half survives untouched — nothing truncated
    assert spark.read.parquet(corp).count() == 1


def test_corpus_stream_recrawl_retracts_neardup_index(spark, tmp_path,
                                                      monkeypatch):
    """T5 reaching the persistent MinHash index (r12, the r11
    verdict's top item): a re-crawled shard's dead signatures are
    tombstoned at invalidation — probes no longer match the dead
    content — the replay guard still holds, and compaction purges
    the dead rows physically. Each committed shard reads the index
    stamps (SHOW TBLPROPERTIES, a catalog round trip) once: the
    re-crawl check, the probe and the append share the read."""
    import collections
    import os

    from georiva_spark.operators import dedup
    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    nd_out = str(tmp_path / "nd")
    os.makedirs(land)
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))
    # yesterday's corpus is the index
    seed = spark.createDataFrame(
        [(1, SEED_TEXT, "en", "web", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    dedup.minhash_index_write(seed, "t_crmh", str(tmp_path / "idx"),
                              n_buckets=4)
    real_sql = type(spark).sql
    reads = collections.Counter()

    def counting(self, stmt, *a, **k):
        if stmt.startswith("SHOW TBLPROPERTIES"):
            reads[stmt.split()[2]] += 1
        return real_sql(self, stmt, *a, **k)

    try:
        def run(**kw):
            reads.clear()
            monkeypatch.setattr(type(spark), "sql", counting)
            try:
                q = start_corpus_ingest(
                    spark, land, corp, str(tmp_path / "ck"), eng,
                    max_files_per_trigger=1, available_now=True,
                    neardup_table="t_crmh", neardup_out_dir=nd_out,
                    **kw)
                q.awaitTermination()
            finally:
                monkeypatch.setattr(type(spark), "sql", real_sql)
            # the launch's fail-fast read, then one per committed shard
            # (each run lands one)
            assert reads["t_crmh_bands"] == 2, dict(reads)

        def pairs(shard):
            p = f"{nd_out}/shard={shard}"
            return {(r.doc_new, r.doc_old)
                    for r in spark.read.parquet(p).collect()}

        # shard sA near-dups the seed; shard sB near-dups sA's doc —
        # caught against the GROWN index
        _land(spark, tmp_path, land, "f0",
              [(10, SEED_TEXT.replace("tonight", "yesterday"))], "sA")
        run()
        assert pairs("sA") == {(10, 1)}
        _land(spark, tmp_path, land, "f1",
              [(20, SEED_TEXT.replace("quick", "rapid"))], "sB")
        run()
        assert (20, 10) in pairs("sB")
        # re-crawl sA with unrelated content: old signatures retract
        _land(spark, tmp_path, land, "f2", [(11, NOVEL_A)], "sA")
        run(recrawl="recompute")
        assert pairs("sA") == set()          # novel content, no match
        # a later shard near-dupping sA's DEAD content finds nothing;
        # near-dupping sA's LIVE content still matches
        _land(spark, tmp_path, land, "f3",
              [(30, SEED_TEXT.replace("tonight", "someday")),
               (31, NOVEL_A.replace("fresh", "new"))], "sC")
        run()
        got = pairs("sC")
        assert not any(do == 10 for _, do in got)   # dead: retracted
        assert (31, 11) in got                      # live generation
        assert (30, 1) in got                       # seed untouched
        # replay guard still holds: identical re-landing changes
        # nothing (no duplicate index rows, same pair output)
        nb = spark.table("t_crmh_bands").count()
        ns = spark.table("t_crmh_sigs").count()
        _land(spark, tmp_path, land, "f4",
              [(30, SEED_TEXT.replace("tonight", "someday")),
               (31, NOVEL_A.replace("fresh", "new"))], "sC")
        run()
        assert spark.table("t_crmh_bands").count() == nb
        assert spark.table("t_crmh_sigs").count() == ns
        assert pairs("sC") == got
        # the dead rows are still physical until compaction purges
        # them (and clears the tombstone rules)
        dead_gen_rows = (spark.table("t_crmh_sigs")
                         .where(F.col("doc_id") == 10).count())
        assert dead_gen_rows == 1
        dedup.minhash_index_compact(spark, "t_crmh",
                                    str(tmp_path / "cmp"))
        assert (spark.table("t_crmh_sigs")
                .where(F.col("doc_id") == 10).count()) == 0
        assert not spark.catalog.tableExists("t_crmh_dead")
        # probes unchanged after the physical purge
        probe = spark.createDataFrame(
            [(99, SEED_TEXT.replace("tonight", "someday"))],
            "doc_id long, text string")
        post = {(r.doc_new, r.doc_old) for r in
                dedup.minhash_index_probe(probe, "t_crmh",
                                          threshold=0.5).collect()}
        assert not any(do == 10 for _, do in post)
        assert any(do == 1 for _, do in post)
    finally:
        for t in ("t_crmh_bands", "t_crmh_sigs", "t_crmh_dead",
                  "t_crmh_bands_compact", "t_crmh_sigs_compact",
                  "t_crmh_bands_old", "t_crmh_sigs_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_stream_neardup_auto_compacts(spark, tmp_path):
    """r13: the corpus stream's near-dup leg takes a compaction
    cadence (neardup_compact_every) counting shard commits that
    appended OR carried pending tombstone rules — a re-crawl-heavy
    run purges its dead generations in-stream instead of deferring
    the physical delete forever."""
    import os

    from georiva_spark.operators import dedup
    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    nd_out = str(tmp_path / "nd")
    os.makedirs(land)
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))
    seed = spark.createDataFrame(
        [(1, SEED_TEXT, "en", "web", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    dedup.minhash_index_write(seed, "t_crmh3", str(tmp_path / "idx"),
                              n_buckets=4)
    try:
        def run(**kw):
            q = start_corpus_ingest(
                spark, land, corp, str(tmp_path / "ck"), eng,
                max_files_per_trigger=1, available_now=True,
                neardup_table="t_crmh3", neardup_out_dir=nd_out,
                neardup_compact_every=1,
                neardup_compact_dir=str(tmp_path / "cmp"), **kw)
            q.awaitTermination()

        _land(spark, tmp_path, land, "f0",
              [(10, SEED_TEXT.replace("tonight", "yesterday"))], "sA")
        run()
        # re-crawl sA: retract + append + IN-STREAM compaction — the
        # dead generation purges physically and the rules clear
        _land(spark, tmp_path, land, "f1", [(11, NOVEL_A)], "sA")
        run(recrawl="recompute")
        assert not spark.catalog.tableExists("t_crmh3_dead")
        assert spark.table("t_crmh3_sigs").where(
            "doc_id = 10").count() == 0
        probe = spark.createDataFrame(
            [(99, SEED_TEXT.replace("tonight", "someday")),
             (98, NOVEL_A.replace("fresh", "new"))],
            "doc_id long, text string")
        got = {(r.doc_new, r.doc_old) for r in
               dedup.minhash_index_probe(probe, "t_crmh3",
                                         threshold=0.5).collect()}
        assert not any(do == 10 for _, do in got)
        assert (98, 11) in got and (99, 1) in got
        # param validation fails by name
        with pytest.raises(ValueError, match="compact_dir"):
            start_corpus_ingest(
                spark, land, corp, str(tmp_path / "ck2"), eng,
                neardup_table="t_crmh3", neardup_out_dir=nd_out,
                neardup_compact_every=2)
        with pytest.raises(ValueError, match="compacts nothing"):
            start_corpus_ingest(
                spark, land, corp, str(tmp_path / "ck3"), eng,
                neardup_compact_every=2,
                neardup_compact_dir=str(tmp_path / "cmp"))
    finally:
        for t in ("t_crmh3_bands", "t_crmh3_sigs", "t_crmh3_dead",
                  "t_crmh3_bands_compact", "t_crmh3_sigs_compact",
                  "t_crmh3_bands_old", "t_crmh3_sigs_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_neardup_retraction_replay_safe_without_catalog(spark,
                                                        tmp_path):
    """r13 (ADVICE): the re-crawl retraction decision comes from the
    INDEX itself, not the catalog item checksum — commit_shards
    updates and dispatches the checksum BEFORE the near-dup leg runs,
    so a crash in that window (or a restart with a fresh engine whose
    catalog lacks the old checksum) used to replay with
    was_recrawled=False and append the new generation while the dead
    one stayed probe-visible forever (the exact T5 failure r12
    targeted). Worst case simulated here: the index holds shard sA's
    old generation, the engine catalog knows NOTHING about sA, and
    the re-crawled delivery lands — the old generation must still
    retract."""
    import os

    from georiva_spark.operators import dedup
    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    nd_out = str(tmp_path / "nd")
    os.makedirs(land)
    # fresh engine: its catalog has NO crawl-shards item for sA, so
    # the checksum-based detection would call this a first delivery
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))
    seed = spark.createDataFrame(
        [(1, SEED_TEXT, "en", "web", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    dedup.minhash_index_write(seed, "t_crmh2", str(tmp_path / "idx"),
                              n_buckets=4)
    try:
        # a PRIOR engine lifetime appended sA's original delivery
        old = spark.createDataFrame(
            [(10, SEED_TEXT.replace("tonight", "yesterday"))],
            "doc_id long, text string")
        dedup.minhash_index_append(
            old, "t_crmh2", gen=dedup.index_gen("sA", "old-1"))
        # the re-crawled sA arrives (novel content); default policy —
        # the catalog sees a brand-new shard, so nothing rejects
        _land(spark, tmp_path, land, "f0", [(11, NOVEL_A)], "sA")
        q = start_corpus_ingest(
            spark, land, corp, str(tmp_path / "ck"), eng,
            max_files_per_trigger=1, available_now=True,
            neardup_table="t_crmh2", neardup_out_dir=nd_out)
        q.awaitTermination()
        # the dead generation must be tombstoned: a probe against the
        # OLD content finds nothing, the seed and the new gen still
        # match
        probe = spark.createDataFrame(
            [(99, SEED_TEXT.replace("tonight", "someday")),
             (98, NOVEL_A.replace("fresh", "new"))],
            "doc_id long, text string")
        got = {(r.doc_new, r.doc_old) for r in
               dedup.minhash_index_probe(probe, "t_crmh2",
                                         threshold=0.5).collect()}
        assert not any(do == 10 for _, do in got)    # dead: retracted
        assert (98, 11) in got                       # new generation
        assert (99, 1) in got                        # seed untouched
        assert spark.catalog.tableExists("t_crmh2_dead")
    finally:
        for t in ("t_crmh2_bands", "t_crmh2_sigs", "t_crmh2_dead"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_neardup_stream_leg_fails_by_name_when_rules_unadoptable(
        spark, tmp_path, monkeypatch):
    """The corpus stream's near-dup leg passes its one stamp read to
    the tombstone tripwire. The unadoptable-restart setup of
    test_dedup_index's stamp test — a retracted index whose ``_dead``
    rule table the restarted session can neither find nor adopt — must
    fail the batch BY NAME before the re-crawl check reads the
    retracted generation as live, and leave the index unchanged."""
    import os

    from georiva_spark.operators import _tombstones as tb, dedup
    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    os.makedirs(land)
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))
    seed = spark.createDataFrame(
        [(1, SEED_TEXT, "en", "web", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    t = "t_crmh4"
    dedup.minhash_index_write(seed, t, str(tmp_path / "idx"),
                              n_buckets=4)
    try:
        old = spark.createDataFrame(
            [(10, SEED_TEXT.replace("tonight", "yesterday"))],
            "doc_id long, text string")
        dedup.minhash_index_append(old, t,
                                   gen=dedup.index_gen("sA", "old-1"))
        dedup.minhash_index_retract(spark, t, "sA")
        # restart onto an HDFS-style warehouse: the catalog forgot the
        # rule table AND the location helper cannot reach its files
        spark.sql(f"DROP TABLE {t}_dead")
        monkeypatch.setattr(tb, "warehouse_path", lambda *a, **k: None)
        _land(spark, tmp_path, land, "f0", [(11, NOVEL_A)], "sA")
        q = start_corpus_ingest(
            spark, land, corp, str(tmp_path / "ck"), eng,
            max_files_per_trigger=1, available_now=True,
            neardup_table=t, neardup_out_dir=str(tmp_path / "nd"))
        with pytest.raises(Exception, match="georiva.has_tombstones"):
            q.awaitTermination()
        assert not spark.catalog.tableExists(f"{t}_dead")
        assert spark.table(f"{t}_sigs").where("doc_id = 11").count() == 0
    finally:
        monkeypatch.undo()
        for x in ("bands", "sigs", "dead"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")


def test_corpus_deliveries_manifest_mode_survives_file_splits(
        spark, tmp_path):
    """start_corpus_deliveries (r12): the manifest IS the atomic
    delivery token — a multi-file delivery commits as one unit even
    at maxFilesPerTrigger=1, an identical redelivery is a structural
    no-op (content-keyed manifest name), and a re-crawl is an
    unambiguous new manifest that recomputes the shard (T5)."""
    import os

    from georiva_spark.streaming.ingest import (
        start_corpus_deliveries, write_delivery_manifest)

    land = str(tmp_path / "land")
    data = str(tmp_path / "data")
    corp = str(tmp_path / "corpus")
    os.makedirs(land)
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))

    def write_files(prefix, row_groups, shard):
        paths = []
        for i, rows in enumerate(row_groups):
            d = os.path.join(data, f"{prefix}_{i}")
            (spark.createDataFrame(
                [(di, t, "en", "web", shard) for di, t in rows],
                SCHEMA + ", shard string")
             .coalesce(1).write.mode("overwrite").parquet(d))
            paths.append(d)
        return paths

    def run():
        q = start_corpus_deliveries(
            spark, land, corp, str(tmp_path / "ck"), eng,
            max_files_per_trigger=1, available_now=True)
        q.awaitTermination()

    # one delivery, TWO data files — the exact shape that straddles
    # the direct stream
    paths = write_files("d1", [[(1, SEED_TEXT)], [(2, NOVEL_A)]], "sA")
    write_delivery_manifest(land, "sA", paths)
    run()
    got = spark.read.parquet(corp)
    assert {r.doc_id for r in got.collect()} == {1, 2}
    item = next(it for it in eng.catalog.items
                if it["collection"] == "crawl-shards")
    checksum1 = item["checksum"]
    # identical redelivery: content-keyed name → the SAME file, which
    # the stream has already consumed — a structural no-op
    p1 = write_delivery_manifest(land, "sA", paths)
    p2 = write_delivery_manifest(land, "sA", list(reversed(paths)))
    assert p1 == p2
    run()
    assert item["checksum"] == checksum1
    assert spark.read.parquet(corp).count() == 2
    # re-crawl: new files, new manifest — recomputes without opt-in
    paths2 = write_files("d2", [[(3, NOVEL_C)]], "sA")
    write_delivery_manifest(land, "sA", paths2)
    run()
    assert {r.doc_id for r in spark.read.parquet(corp).collect()} \
        == {3}
    assert item["checksum"] != checksum1
    # a manifest whose files carry a different shard fails by name
    paths3 = write_files("d3", [[(9, NOVEL_A)]], "sZ")
    write_delivery_manifest(land, "sY", paths3)
    q = start_corpus_deliveries(
        spark, land, corp, str(tmp_path / "ck"), eng,
        max_files_per_trigger=1, available_now=True)
    with pytest.raises(Exception, match="must list exactly one"):
        q.awaitTermination()


def test_grow_layout_missing_clean_item_fails_by_name(spark, tmp_path):
    """ADVICE item 3: a parked/failed clean unit must FAIL the batch
    (checkpoint retries) instead of silently skipping the shard's
    token-layout growth."""
    import os

    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = str(tmp_path / "land")
    corp = str(tmp_path / "corpus")
    os.makedirs(land)
    # registry WITHOUT the clean recipe: dispatch produces no
    # corpus-clean item, so layout growth has nothing to read
    ctx = CatalogContext(spark, [], grid_loader=lambda it: None)
    eng = DerivationEngine(spark, RecipeRegistry(), ctx,
                           output_dir=str(tmp_path / "out"),
                           definitions=[])
    _land(spark, tmp_path, land, "f0", [(1, SEED_TEXT)], "sA")
    q = start_corpus_ingest(
        spark, land, corp, str(tmp_path / "ck"), eng,
        max_files_per_trigger=1, available_now=True,
        token_layout=str(tmp_path / "layout"), merges=MERGES,
        token_alphabet="abcdefghijklmnopqrstuvwxyz")
    with pytest.raises(Exception, match="no[ ]corpus-clean item"):
        q.awaitTermination()


def test_ledger_restart_stable_ids_keep_t3_and_t5(spark, tmp_path):
    """r12 stable item ids (the r11 verdict's item 2 / ADVICE item 2):
    a RESTARTED driver re-registers the same crawl shard under the
    SAME md5-derived item id, so (a) an unchanged shard still SKIPS
    on input_hash against the persisted ledger (T3 across restarts)
    and (b) a re-crawled shard is still REACHABLE by the distributed
    stale scan (T5) — the persisted lineage references the id the
    fresh registration re-mints. PYTHONHASHSEED-salted hash() ids
    broke (b) silently: lineage pointed at the dead id."""
    import os

    from georiva_spark.plans.recipe import stable_item_id

    texts = _texts()
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")

    def mk_engine(items, version):
        def loader(it):
            if it["collection"] == "crawl-shards":
                key = "shard-0" if version == 1 else "shard-0b"
                return spark.createDataFrame(texts[key], SCHEMA)
            return spark.read.parquet(
                os.path.join(out, f"unit={it['unit_hash']}"))
        ctx = CatalogContext(spark, items, grid_loader=loader)
        reg = RecipeRegistry()
        reg.register(CorpusCleanRecipe(config={"min_words": 3}))
        return DerivationEngine(spark, reg, ctx, output_dir=out,
                                definitions=[], ledger_dir=ledger)

    def mint(checksum):
        return {"item_id": stable_item_id("crawl", "shard-0"),
                "collection": "crawl-shards", "variable": "shard-0",
                "time": None, "tier": "staging", "checksum": checksum}

    it1 = mint("crawl-0-v1")
    eng1 = mk_engine([it1], version=1)
    rec = eng1.dispatch_for_trigger(Trigger("staging_item", it1))
    assert [r.status for r in rec] == ["completed"]

    # ---- driver restart: fresh engine on the same ledger, fresh
    # catalog rebuilt by the stream re-registering the shard --------
    it2 = mint("crawl-0-v1")              # same content re-delivered
    assert it2["item_id"] == it1["item_id"]   # the stable-id property
    eng2 = mk_engine([it2], version=1)
    rec = eng2.dispatch_for_trigger(Trigger("staging_item", it2))
    assert [r.status for r in rec] == ["skipped"]      # T3 held

    # ---- re-crawl after restart: T5 still reaches the unit --------
    it3 = mint("crawl-0-v2")
    eng3 = mk_engine([it3], version=2)
    stale = eng3.stale_units_df().collect()
    assert len(stale) == 1 and '"shard-0"' in stale[0].unit_key
    swept = eng3.sweep_stale()
    assert any(r.status == "completed" for r in swept)
    assert eng3.stale_units_df().count() == 0


def test_token_manifest_pointer_agg_matches_bins_rollup(spark):
    """r13 optimization guard: CorpusShardTokensRecipe aggregates the
    pack-pointer table instead of the full token-id bin assembly —
    the manifest it emits must stay bit-identical to the
    token_shard_bins rollup it replaced, including empty-text,
    NULL-text and clamped (>context_len tokens) docs."""
    from georiva_spark.functions.frames import local_frame
    from georiva_spark.operators.textops import (token_shard_bins,
                                                 token_shard_pointer)

    rows = [
        (1, "the abc abd quick fox", "en", "web"),
        (2, "", "en", "web"),                      # empty text
        (3, None, "en", "web"),                    # NULL text
        (4, "ab " * 40, "en", "web"),              # clamps at ctx=8
        (5, "of abc abc words here", "de", "web"),
        (6, "and abc de xyz words", "en", "books"),
    ]
    docs = local_frame(spark, rows, SCHEMA)
    ctx_len, nsh = 8, 4
    bins = token_shard_bins(docs, MERGES, context_len=ctx_len,
                            num_shards=nsh)
    old = (bins.groupBy("shard")
           .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens")))
    pointer = token_shard_pointer(docs, MERGES, context_len=ctx_len,
                                  num_shards=nsh)
    per_bin = (pointer.where(F.col("doc_id").isNotNull())
               .groupBy("shard", "bin_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_tok").cast("long").alias("n_tokens")))
    new = (per_bin.groupBy("shard")
           .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens")))
    assert old.schema == new.schema
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))
