"""One-call takedown orchestration (r13): one bounded id list reaches
every surface — the three index families, the exported trainer
layout, and the landed corpus plus its derivation-engine products —
idempotently, with an audit token as the commit witness. The corpus
leg's crash window (pruned partitions but no engine dispatch) is
recovered through the intent token; emptying a whole shard fails by
name; the streaming launcher replays via the audit-token guard."""

import glob
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from georiva_spark.operators import dedup, similarity
from georiva_spark.plans import takedown as td
from georiva_spark.plans.engine import DerivationEngine, Trigger
from georiva_spark.plans.recipe import CatalogContext, RecipeRegistry
from georiva_spark.plans.recipes.corpus import (
    CorpusCleanRecipe, CorpusDatacardRecipe, CorpusShardStatsRecipe,
    CorpusShardTokensRecipe, CorpusTokenShardsRecipe,
    corpus_product_definitions,
)
from georiva_spark.sources import commit
from georiva_spark.sources.tables import (export_token_shards,
                                          read_token_shards)
from georiva_spark.testing import jobs_in_group

MERGES = [("a", "b"), ("ab", "c")]
SCHEMA = "doc_id long, text string, lang string, source string"

ROWS = {
    "s0": [
        (1, "the abc abd quick fox", "en", "web"),
        (2, "the abc abd quick fox", "en", "web"),   # exact dup of 1
        (3, "of abc abc words here", "de", "web"),
    ],
    "s1": [
        (10, "and abc de xyz words", "en", "books"),
        (11, "to abc abc abc words", "en", "web"),
        (12, "in abc abd other words", "fr", "web"),
    ],
}


def _land_corpus(spark, path):
    rows = [(*r, s) for s, rs in ROWS.items() for r in rs]
    (spark.createDataFrame(rows, SCHEMA + ", shard string")
     .repartition(2).write.partitionBy("shard").parquet(path))


def _mk_engine(spark, corp, out):
    def loader(it):
        if it["collection"] == "crawl-shards":
            return (spark.read.parquet(corp)
                    .where(F.col("shard") == it["variable"])
                    .drop("shard"))
        return spark.read.parquet(
            os.path.join(out, f"unit={it['unit_hash']}"))

    items = [{"item_id": k + 1, "collection": "crawl-shards",
              "variable": s, "time": None, "tier": "staging",
              "checksum": f"crawl-{s}-v1"}
             for k, s in enumerate(sorted(ROWS))]
    ctx = CatalogContext(spark, items, grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    reg.register(CorpusShardStatsRecipe())
    reg.register(CorpusShardTokensRecipe(
        MERGES, config={"context_len": 8, "num_shards": 2}))
    reg.register(CorpusDatacardRecipe())
    reg.register(CorpusTokenShardsRecipe())
    eng = DerivationEngine(
        spark, reg, ctx, output_dir=out,
        definitions=corpus_product_definitions(context_len=8,
                                               num_shards=2))
    for it in items:
        eng.dispatch_for_trigger(Trigger(kind="staging_item", item=it))
    return eng


def _card(spark, eng):
    it = next(i for i in eng.catalog.items
              if i["collection"] == "corpus-datacard")
    return {(r.lang, r.source): (r.n_docs, r.n_tokens)
            for r in eng.catalog._grid_loader(it).collect()}


def _drop(spark, table, suffixes):
    for s in suffixes:
        spark.sql(f"DROP TABLE IF EXISTS {table}_{s}")


IDX_SUFFIXES = ("bands", "sigs", "ids", "dead", "dead_docs",
                "bands_compact", "sigs_compact", "ids_compact")


def test_takedown_reaches_every_surface(spark, tmp_path):
    """One call: docs 2 (a dedup KEEPER's twin... doc 1 is keeper) —
    take down ids {1, 11}: minhash/hamming/ivf stop matching, the
    token layout drops their segments bit-preserving the rest, the
    corpus partitions prune, the engine datacard converges to a
    corpus that never had them — and the exact-dup twin doc 2
    RESURFACES as the new keeper (content was never taken down, only
    the named item)."""
    corp = str(tmp_path / "corp")
    out = str(tmp_path / "out")
    lay = str(tmp_path / "lay")
    audit_dir = str(tmp_path / "audit")
    _land_corpus(spark, corp)
    eng = _mk_engine(spark, corp, out)
    card0 = _card(spark, eng)
    assert card0[("en", "web")] == (2, 10)       # keeper 1 + doc 11

    docs = spark.createDataFrame(
        [(*r, ) for rs in ROWS.values() for r in rs], SCHEMA)
    export_token_shards(docs, lay, MERGES, context_len=8,
                        num_shards=2,
                        extra_alphabet="abcdefghijklmnopqrstuvwxyz ")
    emb = spark.createDataFrame(
        [(i, [float(i % 3 == 0)] * 4 + [float(i % 3 != 0)] * 4)
         for i in (1, 2, 3, 10, 11, 12)],
        "vec_id long, embedding array<double>")
    codes = spark.createDataFrame(
        [(i, (0b1111 if i < 10 else 0b10110000)) for i in
         (1, 2, 3, 10, 11, 12)], "media_id long, code long")
    mh, hm, iv = "t_tdo_mh", "t_tdo_hm", "t_tdo_iv"
    try:
        dedup.minhash_index_write(
            docs.select("doc_id", "text"), mh, str(tmp_path / "mi"),
            n_buckets=4)
        dedup.hamming_index_write(codes, hm, str(tmp_path / "hi"),
                                  max_hamming=2, n_buckets=4)
        similarity.ivf_index_write(emb, iv, str(tmp_path / "vi"),
                                   n_centroids=2, train_iters=1)

        ids = [1, 11]
        audit, jobs = jobs_in_group(
            spark, "takedown-all-legs", lambda: td.takedown(
                spark, ids, minhash_indexes=[mh], hamming_indexes=[hm],
                ivf_indexes=[iv], token_layouts=[lay],
                corpus=(corp, eng), audit_dir=audit_dir))
        # the request's job budget: the token leg re-aggregates only
        # its affected shards and the audit sums driver rows — a leg
        # that starts to scale with its surface moves this count
        assert jobs == 59, jobs

        # indexes: probes exclude the ids, keep the rest
        mh_probe = spark.createDataFrame(
            [(900, "to abc abc abc words")], "doc_id long, text string")
        mh_hits = {r.doc_old for r in dedup.minhash_index_probe(
            mh_probe, mh, threshold=0.9).collect()}
        assert 11 not in mh_hits
        hm_probe = spark.createDataFrame(
            [(900, 0b1110)], "media_id long, code long")
        hm_hits = {r.id_old for r in dedup.hamming_index_probe(
            hm_probe, hm).collect()}
        assert hm_hits == {2, 3}                  # 1 gone, twins live
        iv_hits = {r.vec_id for r in similarity.ivf_index_probe(
            spark, iv, [1.0] * 4 + [0.0] * 4, k=6, nprobe=2).collect()}
        assert not iv_hits & {1, 11} and 3 in iv_hits

        # token layout: ids' segments gone, survivors bit-identical
        doc_ids = set()
        for r in read_token_shards(spark, lay).collect():
            doc_ids.update(r.doc_ids)
        assert not doc_ids & {1, 11} and {2, 3, 10, 12} <= doc_ids

        # corpus pruned; datacard == a corpus that never had 1, 11 —
        # and the dup twin doc 2 RESURFACES as the new keeper
        left = {r.doc_id for r in
                spark.read.parquet(corp).collect()}
        assert left == {2, 3, 10, 12}
        card = _card(spark, eng)
        assert card[("en", "web")] == (1, 5)      # doc 2, the twin
        assert ("en", "books") in card            # shard-1 unaffected
        assert card[("fr", "web")] == (1, 5)

        # audit: committed LAST, full fan-out recorded
        tok = commit.read_token_json(
            f"{audit_dir}/takedown-{td.request_digest(ids)}.json")
        assert tok == audit
        assert set(audit["indexes"]) == {mh, hm, iv}
        assert [c["shard"] for c in audit["corpus"]] == ["s0", "s1"]
        assert audit["token_layouts"][lay]["bins"] >= 1

        # idempotent re-run: corpus untouched (same checksums, units
        # skip), audit rewrites identical content
        files0 = {f: hashlib.md5(open(f, "rb").read()).hexdigest()
                  for f in glob.glob(f"{corp}/shard=*/*.parquet")}
        audit2 = td.takedown(
            spark, ids, minhash_indexes=[mh], hamming_indexes=[hm],
            ivf_indexes=[iv], token_layouts=[lay],
            corpus=(corp, eng), audit_dir=audit_dir)
        files1 = {f: hashlib.md5(open(f, "rb").read()).hexdigest()
                  for f in glob.glob(f"{corp}/shard=*/*.parquet")}
        assert files0 == files1
        assert all(c["units_run"] == 0 for c in audit2["corpus"])
        assert _card(spark, eng) == card
    finally:
        for t in (mh, hm, iv):
            _drop(spark, t, IDX_SUFFIXES)


def test_corpus_takedown_crash_window_recovers_via_intent(spark,
                                                          tmp_path):
    """Crash between the partition prune and the engine dispatch: the
    ids are gone from the data, so a rerun's scan alone cannot find
    the shard — the intent token can, and the rerun re-dispatches it
    (stale datacard heals)."""
    corp = str(tmp_path / "corp")
    out = str(tmp_path / "out")
    _land_corpus(spark, corp)
    eng = _mk_engine(spark, corp, out)
    card0 = _card(spark, eng)

    real = eng.dispatch_for_trigger

    def boom(trigger, origin=None):
        raise RuntimeError("injected crash before dispatch")

    eng.dispatch_for_trigger = boom
    with pytest.raises(RuntimeError, match="injected"):
        td.corpus_takedown(spark, corp, eng, [12])
    eng.dispatch_for_trigger = real
    # partitions pruned, products stale, intent token uncompleted
    assert spark.read.parquet(corp).where("doc_id = 12").count() == 0
    assert _card(spark, eng) == card0             # stale: still has fr
    tok = commit.read_token_json(
        td._intent_path(corp, td.request_digest([12])))
    assert tok["shards"] == ["s1"] and tok["completed"] is False

    res = td.corpus_takedown(spark, corp, eng, [12])
    assert [r["shard"] for r in res] == ["s1"]
    card = _card(spark, eng)
    assert ("fr", "web") not in card
    assert card[("en", "books")] == card0[("en", "books")]
    tok = commit.read_token_json(
        td._intent_path(corp, td.request_digest([12])))
    assert tok["completed"] is True


def test_corpus_takedown_emptying_a_shard_fails_by_name(spark,
                                                        tmp_path):
    corp = str(tmp_path / "corp")
    _land_corpus(spark, corp)
    eng = _mk_engine(spark, corp, str(tmp_path / "out"))
    with pytest.raises(ValueError, match="EMPTY shard"):
        td.corpus_takedown(spark, corp, eng, [10, 11, 12])
    # nothing mutated
    assert spark.read.parquet(corp).count() == 6


def test_takedown_validation_fails_by_name(spark, tmp_path):
    with pytest.raises(ValueError, match="id list is empty"):
        td.takedown(spark, [], minhash_indexes=["x"])
    with pytest.raises(ValueError, match="no surfaces"):
        td.takedown(spark, [1])
    with pytest.raises(ValueError, match="no .* staging item|never "
                                         "ingested"):
        corp = str(tmp_path / "corp")
        _land_corpus(spark, corp)
        e = _mk_engine(spark, corp, str(tmp_path / "out"))
        e.catalog.items = [i for i in e.catalog.items
                           if i["variable"] != "s1"]
        td.corpus_takedown(spark, corp, e, [12])


def test_takedown_stream_applies_and_replay_guard_holds(spark,
                                                        tmp_path):
    """Two request files stream through; a REDELIVERED request (same
    ids, new file) is guard-skipped: the rule table gains no new
    rows and the audit token is the witness. The audit leg also runs
    on a POINTER backend (no-rename object-store shim)."""
    from georiva_spark.streaming.takedown import start_takedown_stream
    req = tmp_path / "req"
    req.mkdir()
    audit_dir = str(tmp_path / "audit")
    commit.register_backend(
        audit_dir, commit.PointerBackend(commit.DirObjectStore()))
    t = "t_tds_mh"
    docs = spark.createDataFrame(
        [(i, f"the abc abd quick fox variant {i}") for i in
         range(1, 7)], "doc_id long, text string")
    try:
        dedup.minhash_index_write(docs, t, str(tmp_path / "ix"),
                                  n_buckets=4)
        (req / "r1.json").write_text(json.dumps(
            {"request_id": "r1", "ids": [1, 2]}))
        (req / "r2.json").write_text(json.dumps(
            {"request_id": "r2", "ids": [5]}))
        q = start_takedown_stream(
            spark, str(req), str(tmp_path / "ck"), audit_dir,
            minhash_indexes=[t], available_now=True)
        q.awaitTermination(120)
        rules = spark.table(f"{t}_dead_docs")
        assert {r.id for r in rules.collect()} == {1, 2, 5}
        n0 = rules.count()
        for ids in ([1, 2], [5]):
            assert commit.read_token_json(
                f"{audit_dir}/takedown-{td.request_digest(ids)}"
                f".json")["n_ids"] == len(ids)
        # redeliver r1 under a new name: guard skips, no new rules
        (req / "r1_again.json").write_text(json.dumps(
            {"request_id": "r1b", "ids": [2, 1]}))
        q = start_takedown_stream(
            spark, str(req), str(tmp_path / "ck"), audit_dir,
            minhash_indexes=[t], available_now=True)
        q.awaitTermination(120)
        spark.catalog.refreshTable(f"{t}_dead_docs")
        assert spark.table(f"{t}_dead_docs").count() == n0
    finally:
        commit.register_backend(audit_dir, None)
        _drop(spark, t, IDX_SUFFIXES)


def test_takedown_stream_rejects_empty_request_by_name(spark,
                                                       tmp_path):
    from georiva_spark.streaming.takedown import start_takedown_stream
    req = tmp_path / "req"
    req.mkdir()
    (req / "bad.json").write_text(json.dumps(
        {"request_id": "bad", "ids": []}))
    t = "t_tds_bad"
    docs = spark.createDataFrame([(1, "the abc abd quick fox")],
                                 "doc_id long, text string")
    try:
        dedup.minhash_index_write(docs, t, str(tmp_path / "ix"),
                                  n_buckets=2)
        q = start_takedown_stream(
            spark, str(req), str(tmp_path / "ck"),
            str(tmp_path / "audit"), minhash_indexes=[t],
            available_now=True)
        with pytest.raises(Exception, match="empty id list"):
            q.awaitTermination(120)
            raise AssertionError("stream did not fail")
    finally:
        _drop(spark, t, IDX_SUFFIXES)

    with pytest.raises(ValueError, match="no surfaces"):
        start_takedown_stream(spark, str(req), str(tmp_path / "ck2"),
                              str(tmp_path / "audit2"))


# ---- standing legal holds (r13): takedown removes what is there; a
# hold keeps it out of every ADMISSION path afterward -----------------


@pytest.mark.parametrize("wh, want", [
    ("file:/w", "/w/t_held"),
    ("file:///w", "/w/t_held"),
    ("/w", "/w/t_held"),
    ("w", "w/t_held"),
    ("s3a://b/w", None),
])
def test_warehouse_path_normalises_local_warehouses(wh, want):
    """The one warehouse-path helper of the managed id-list tables
    (tombstone rules, standing holds, the fixture sweep): ``file:``
    and ``file:///`` normalise to a plain path, a relative warehouse
    stays relative, the table name is lowercased as the catalog
    stores it, and a non-local scheme has no adoptable location."""
    from types import SimpleNamespace

    from georiva_spark.operators._tombstones import warehouse_path

    conf = {"spark.sql.warehouse.dir": wh}
    spark = SimpleNamespace(conf=SimpleNamespace(get=conf.get))
    assert warehouse_path(spark, "T_Held") == want


def test_standing_hold_lifecycle(spark, tmp_path):
    """Create/append/filter/adopt/clear — and the fail-by-name rule:
    an admission path configured with a hold table that does not
    exist must never silently run unfiltered."""
    import shutil

    from georiva_spark.operators._tombstones import warehouse_path

    ht = "t_hold_lc"
    docs = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                                 "doc_id long, text string")
    try:
        with pytest.raises(ValueError, match="never silently run"):
            td.hold_filter(docs, ht, "doc_id")
        td.standing_hold(spark, ht, [2])
        assert {r.doc_id for r in
                td.hold_filter(docs, ht, "doc_id").collect()} == {1, 3}
        td.standing_hold(spark, ht, [3, 2])     # accumulate, dup ok
        assert {r.doc_id for r in
                td.hold_filter(docs, ht, "doc_id").collect()} == {1}
        # restart adoption: catalog forgets, files persist — the
        # filter must re-register the location, never admit held ids
        loc = warehouse_path(spark, ht)
        saved = str(tmp_path / "held_files")
        shutil.copytree(loc, saved)
        spark.sql(f"DROP TABLE {ht}")
        shutil.copytree(saved, loc)
        assert {r.doc_id for r in
                td.hold_filter(docs, ht, "doc_id").collect()} == {1}
        td.clear_hold(spark, ht)
        assert not spark.catalog.tableExists(ht)
        import os
        assert not os.path.exists(loc)
        with pytest.raises(ValueError, match="never silently run"):
            td.hold_filter(docs, ht, "doc_id")
    finally:
        td.clear_hold(spark, ht)


def test_corpus_ingest_hold_admission(spark, tmp_path):
    """start_corpus_ingest(hold_table=): held doc_ids drop BEFORE the
    land and the checksum, so the partition never contains them and
    an identical redelivery still T3-skips (the hold does not trip
    the recrawl=reject guard). Launching against a missing hold
    table fails by name."""
    from georiva_spark.plans.recipe import CatalogContext, RecipeRegistry
    from georiva_spark.plans.recipes.corpus import CorpusCleanRecipe
    from georiva_spark.streaming.ingest import start_corpus_ingest

    land = tmp_path / "land"
    land.mkdir()
    corp = str(tmp_path / "corp")
    out = str(tmp_path / "out")
    ht = "t_hold_ing"
    rows = [(1, "the abc abd quick fox"),
            (2, "of abc abc words here"),
            (3, "and abc de xyz words")]

    def land_file(name):
        df = spark.createDataFrame(
            [(d, t, "en", "web", "s0") for d, t in rows],
            SCHEMA + ", shard string")
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(str(land), f"{name}.parquet"))

    def loader(it):
        if it["collection"] == "crawl-shards":
            return (spark.read.parquet(corp)
                    .where(F.col("shard") == it["variable"])
                    .drop("shard"))
        return spark.read.parquet(
            os.path.join(out, f"unit={it['unit_hash']}"))

    from georiva_spark.plans.engine import DerivationEngine
    ctx = CatalogContext(spark, [], grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    eng = DerivationEngine(spark, reg, ctx, output_dir=out,
                           definitions=[])
    try:
        with pytest.raises(ValueError, match="does not exist"):
            start_corpus_ingest(spark, str(land), corp,
                                str(tmp_path / "ck0"), eng,
                                available_now=True,
                                hold_table="t_hold_missing")
        td.standing_hold(spark, ht, [2])
        land_file("f0")
        q = start_corpus_ingest(spark, str(land), corp,
                                str(tmp_path / "ck"), eng,
                                available_now=True, hold_table=ht)
        q.awaitTermination(120)
        assert {r.doc_id for r in
                spark.read.parquet(corp).collect()} == {1, 3}
        item = next(it for it in eng.catalog.items
                    if it["collection"] == "crawl-shards")
        # identical redelivery: admitted content unchanged -> the
        # committed checksum matches, no reject, clean unit skips
        n_runs = len(eng.runs)
        land_file("f1")
        q = start_corpus_ingest(spark, str(land), corp,
                                str(tmp_path / "ck"), eng,
                                available_now=True, hold_table=ht)
        q.awaitTermination(120)
        assert item["checksum"] == next(
            it for it in eng.catalog.items
            if it["collection"] == "crawl-shards")["checksum"]
        assert {r.doc_id for r in
                spark.read.parquet(corp).collect()} == {1, 3}
        skips = [r for r in eng.runs.values() if r.status == "skipped"]
        assert len(eng.runs) == n_runs and skips
    finally:
        td.clear_hold(spark, ht)


def test_neardup_stream_hold_filters_probe_and_append(spark,
                                                      tmp_path):
    """The probe-then-grow launchers take hold_table=: held doc_ids
    neither produce pairs nor enter the index — the blocklist a
    takedown registers reaches the streaming admission paths."""
    from georiva_spark.streaming import (read_neardup_pairs,
                                         start_neardup_stream)

    base_text = ("the quick brown fox jumps over the lazy dog and "
                 "runs far away into the deep green forest tonight")
    landing = tmp_path / "land"
    landing.mkdir()
    t, ht = "t_hold_nd", "t_hold_ndh"
    schema = "doc_id long, text string"
    try:
        dedup.minhash_index_write(
            spark.createDataFrame([(1, base_text)], schema), t,
            str(tmp_path / "ix"), n_buckets=4)
        td.standing_hold(spark, ht, [5])
        (spark.createDataFrame(
            [(5, base_text), (6, base_text.replace("quick", "rapid"))],
            schema).coalesce(1).write.mode("append")
         .parquet(str(landing / "b0")))
        src = (spark.readStream.schema(schema)
               .parquet(str(landing) + "/*"))
        q = start_neardup_stream(src, t, str(tmp_path / "out"),
                                 str(tmp_path / "ck"), threshold=0.5,
                                 hold_table=ht)
        q.awaitTermination(120)
        sigs = {r.doc_id for r in spark.table(f"{t}_sigs").collect()}
        assert 6 in sigs and 5 not in sigs
        pairs = {(r.doc_new, r.doc_old) for r in read_neardup_pairs(
            spark, str(tmp_path / "out")).collect()}
        assert (6, 1) in pairs
        assert not any(dn == 5 for dn, _ in pairs)
    finally:
        td.clear_hold(spark, ht)
        _drop(spark, t, IDX_SUFFIXES)


def test_takedown_report_counts_live_rows_and_files(spark, tmp_path):
    """Dry-run blast radius: counts LIVE rows only (pre-tombstoned
    rows excluded), layout n_files = bounded rewrite cost, hold
    overlap reported, nothing mutated."""
    t, hm, iv, ht = ("t_rep_mh", "t_rep_hm", "t_rep_iv", "t_rep_ht")
    lay = str(tmp_path / "lay")
    docs = spark.createDataFrame(
        [(i, f"the abc abd quick fox variant {i}") for i in
         range(1, 9)], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(1, 9)],
        "vec_id long, embedding array<double>")
    codes = spark.createDataFrame(
        [(i, 15 + i) for i in range(1, 9)],
        "media_id long, code long")
    try:
        dedup.minhash_index_write(docs, t, str(tmp_path / "mi"),
                                  n_buckets=2)
        dedup.hamming_index_write(codes, hm, str(tmp_path / "hi"),
                                  max_hamming=1, n_buckets=2)
        similarity.ivf_index_write(emb, iv, str(tmp_path / "vi"),
                                   n_centroids=2, train_iters=1)
        export_token_shards(docs, lay, MERGES, context_len=8,
                            num_shards=2,
                            extra_alphabet="abcdefghijklmnopqrstuvwxyz"
                                           "0123456789 ")
        dedup.minhash_index_retract_docs(spark, t, [2])   # pre-dead
        td.standing_hold(spark, ht, [3, 99])
        before = spark.read.parquet(f"{lay}/shard=*").count()

        rep = {(r.surface, r.shard): r for r in td.takedown_report(
            spark, [1, 2, 3], minhash_indexes=[t],
            hamming_indexes=[hm], ivf_indexes=[iv],
            token_layouts=[lay], hold_table=ht).collect()}
        assert rep[("minhash", None)].n_rows == 2     # 2 is dead
        assert rep[("hamming", None)].n_rows == 3
        assert rep[("ivf", None)].n_rows == 3
        assert rep[("hold", None)].n_rows == 1        # only 3 held
        lr = rep[("token_layout", None)]
        assert lr.n_rows == 3 and lr.n_tokens > 0
        assert 1 <= lr.n_files <= 2
        # dry run: nothing changed anywhere
        assert spark.read.parquet(f"{lay}/shard=*").count() == before
        assert spark.table(f"{t}_sigs").count() == 8
        with pytest.raises(ValueError, match="id list is empty"):
            td.takedown_report(spark, [], minhash_indexes=[t])
        with pytest.raises(ValueError, match="no surfaces"):
            td.takedown_report(spark, [1])
        with pytest.raises(ValueError, match="does not exist"):
            td.takedown_report(spark, [1], hold_table="t_rep_missing")
    finally:
        td.clear_hold(spark, ht)
        for x in (t, hm, iv):
            _drop(spark, x, IDX_SUFFIXES)
        for s in ("centroids", "codebook", "rotation"):
            spark.sql(f"DROP TABLE IF EXISTS {iv}_{s}")
        spark.sql(f"DROP TABLE IF EXISTS {iv}")


# ---- retention (r13): generation retirement + shard expiry ----------


def test_token_shards_retire_generation(spark, tmp_path):
    """Retiring a committed delta generation deletes exactly its own
    files (others byte-identical), heals the manifest, is idempotent,
    refuses unknown generations by name — and a REPLAYED delivery of
    the retired content stays a no-op (retired means removed, never
    resurrected)."""
    from georiva_spark.sources.tables import (
        export_token_shards_delta, export_token_shards_retire)

    out = str(tmp_path / "lay")
    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "a b c"), (3, "c c c")],
        "doc_id long, text string")
    export_token_shards(docs, out, MERGES, context_len=8,
                        num_shards=2, extra_alphabet="abc ")
    d1 = spark.createDataFrame([(6, "c ab a")],
                               "doc_id long, text string")
    d2 = spark.createDataFrame([(7, "b c ab")],
                               "doc_id long, text string")
    export_token_shards_delta(d1, out, MERGES, generation="g1")
    export_token_shards_delta(d2, out, MERGES, generation="g2")

    def md5s():
        return {f: hashlib.md5(open(f, "rb").read()).hexdigest()
                for f in glob.glob(f"{out}/shard=*/*.parquet")}

    before = md5s()
    g1_files = {f for f in before if "/gen-g1-" in f}
    assert g1_files
    man = export_token_shards_retire(spark, out, "g1")
    after = md5s()
    assert set(after) == set(before) - g1_files
    assert all(after[f] == before[f] for f in after)
    ids = {d for r in read_token_shards(spark, out).collect()
           for d in r.doc_ids}
    assert ids == {1, 2, 3, 7}
    total = sum(r.n_docs for r in man.collect())
    assert total == 4
    # replayed delivery of the retired content: digest matches the
    # (retired) marker -> structural no-op, files stay gone
    export_token_shards_delta(d1, out, MERGES, generation="g1")
    assert set(md5s()) == set(after)
    # idempotent re-retire; unknown generation fails by name
    export_token_shards_retire(spark, out, "g1")
    with pytest.raises(ValueError, match="never committed"):
        export_token_shards_retire(spark, out, "nope")
    # re-crawl of the retired generation with DIFFERENT content still
    # fails by name (a retired name is not a free slot)
    with pytest.raises(ValueError, match="DIFFERENT content"):
        export_token_shards_delta(
            spark.createDataFrame([(8, "a a")],
                                  "doc_id long, text string"),
            out, MERGES, generation="g1")


def test_expire_shards_end_to_end(spark, tmp_path):
    """Shard expiry reaches every surface wholesale: the partition
    disappears atomically, the engine rebuilds merges from the
    remaining partials, the index stops matching the shard's
    generations, the layout's generations retire — and a rerun after
    a crash between catalog drop and rebuild heals via the intent
    token."""
    from georiva_spark.sources.commit import (atomic_write_json,
                                              read_token_json)
    from georiva_spark.sources.tables import export_token_shards_delta

    corp = str(tmp_path / "corp")
    out = str(tmp_path / "out")
    lay = str(tmp_path / "lay")
    _land_corpus(spark, corp)
    eng = _mk_engine(spark, corp, out)
    card0 = _card(spark, eng)
    assert ("en", "books") in card0          # s1 content present

    docs = spark.createDataFrame(
        [(*r, ) for rs in ROWS.values() for r in rs], SCHEMA)
    export_token_shards(
        docs.where(F.col("doc_id") < 10).select("doc_id", "text"),
        lay, MERGES, context_len=8, num_shards=2,
        extra_alphabet="abcdefghijklmnopqrstuvwxyz ")
    export_token_shards_delta(
        docs.where(F.col("doc_id") >= 10).select("doc_id", "text"),
        lay, MERGES, generation="s1-123-3")
    t = "t_exp_mh"
    try:
        dedup.minhash_index_write(
            docs.where(F.col("doc_id") < 10)
            .select("doc_id", "text"), t, str(tmp_path / "mi"),
            n_buckets=4)
        dedup.minhash_index_append(
            docs.where(F.col("doc_id") >= 10)
            .select("doc_id", "text"), t,
            gen=dedup.index_gen("s1", "v1"))
        probe = spark.createDataFrame(
            [(900, "to abc abc abc words")],
            "doc_id long, text string")
        assert {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.9).collect()} == {11}

        audit = td.expire_shards(
            spark, corp, eng, ["s1"], minhash_indexes=[t],
            token_layouts=[lay])
        assert not os.path.isdir(os.path.join(corp, "shard=s1"))
        assert not glob.glob(f"{corp}/_expired_*")
        card = _card(spark, eng)
        assert ("en", "books") not in card
        assert card[("de", "web")] == card0[("de", "web")]
        assert ("fr", "web") not in card        # doc 12 was in s1
        assert {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.9).collect()} == set()
        ids = {d for r in read_token_shards(spark, lay).collect()
               for d in r.doc_ids}
        assert ids == {1, 2, 3}
        assert audit["token_layouts"][lay]["generations"] == \
            ["s1-123-3"]
        tok = read_token_json(
            os.path.join(corp,
                         f"_georiva_expire_{audit['digest']}.json"))
        assert tok["completed"] is True

        # crash-window rerun: intent uncompleted, items already gone
        atomic_write_json(
            os.path.join(corp,
                         f"_georiva_expire_{audit['digest']}.json"),
            {"digest": audit["digest"], "shards": ["s1"],
             "completed": False}, who="test")
        again = td.expire_shards(spark, corp, eng, ["s1"],
                                 minhash_indexes=[t],
                                 token_layouts=[lay])
        assert "rebuild_units" in again
        assert _card(spark, eng) == card
        with pytest.raises(ValueError, match="never ingested"):
            td.expire_shards(spark, corp, eng, ["s9"])
        with pytest.raises(ValueError, match="shard list is empty"):
            td.expire_shards(spark, corp, eng, [])
    finally:
        _drop(spark, t, IDX_SUFFIXES)


def test_report_derived_surface_and_audit_trail(spark, tmp_path):
    """takedown_report(engine=) adds the DERIVED recompute blast
    radius (lineage closure of the affected shards); read_audit_trail
    lists applied takedown/expiry audit tokens through the commit
    backend."""
    corp = str(tmp_path / "corp")
    out = str(tmp_path / "out")
    audit_dir = str(tmp_path / "audit")
    _land_corpus(spark, corp)
    eng = _mk_engine(spark, corp, out)

    rep = {r.surface: r for r in td.takedown_report(
        spark, [11], corpus_dirs=[corp], engine=eng).collect()
        if r.surface == "derived"}
    # s1's closure: its clean item, two partials, two merges = 5
    assert rep["derived"].n_rows >= 3

    td.takedown(spark, [11], corpus=(corp, eng),
                audit_dir=audit_dir)
    td.expire_shards(spark, corp, eng, ["s0"], audit_dir=audit_dir)
    trail = {(r.kind, r.n_ids) for r in
             td.read_audit_trail(spark, audit_dir).collect()}
    assert ("takedown", 1) in trail
    assert ("expire", 1) in trail
    assert td.read_audit_trail(spark,
                               str(tmp_path / "none")).count() == 0


def test_expire_shards_ledger_mode(spark, tmp_path):
    """Expiry on a LEDGER-backed engine: invalidate_downstream walks
    the lineage TABLE (per-round semi-join), the catalog drop + run_all
    rebuild behave identically, and the rebuilt merges converge."""
    corp = str(tmp_path / "corp")
    out = str(tmp_path / "out")
    _land_corpus(spark, corp)

    def loader(it):
        if it["collection"] == "crawl-shards":
            return (spark.read.parquet(corp)
                    .where(F.col("shard") == it["variable"])
                    .drop("shard"))
        return spark.read.parquet(
            os.path.join(out, f"unit={it['unit_hash']}"))

    items = [{"item_id": k + 1, "collection": "crawl-shards",
              "variable": s, "time": None, "tier": "staging",
              "checksum": f"crawl-{s}-v1"}
             for k, s in enumerate(sorted(ROWS))]
    ctx = CatalogContext(spark, items, grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe(config={"min_words": 3}))
    reg.register(CorpusShardStatsRecipe())
    reg.register(CorpusShardTokensRecipe(
        MERGES, config={"context_len": 8, "num_shards": 2}))
    reg.register(CorpusDatacardRecipe())
    reg.register(CorpusTokenShardsRecipe())
    eng = DerivationEngine(
        spark, reg, ctx, output_dir=out,
        definitions=corpus_product_definitions(context_len=8,
                                               num_shards=2),
        ledger_dir=str(tmp_path / "ledger"))
    for it in items:
        eng.dispatch_for_trigger(Trigger(kind="staging_item", item=it))
    card0 = _card(spark, eng)
    assert ("en", "books") in card0

    audit = td.expire_shards(spark, corp, eng, ["s1"])
    assert audit["corpus"][0]["derived_dropped"] >= 3
    card = _card(spark, eng)
    assert ("en", "books") not in card
    assert card[("de", "web")] == card0[("de", "web")]
    assert not os.path.isdir(os.path.join(corp, "shard=s1"))


def test_retire_generation_through_pointer_backend(spark, tmp_path):
    """The retirement path end-to-end on a no-rename object-store
    shim: the retired marker commits via the pointer protocol and the
    generation's files leave via object DELETE — the remove_file leg
    of the backend seam."""
    from georiva_spark.sources.tables import (
        export_token_shards_delta, export_token_shards_retire)

    out = str(tmp_path / "lay")
    commit.register_backend(
        out, commit.PointerBackend(commit.DirObjectStore()))
    try:
        docs = spark.createDataFrame(
            [(1, "ab ab"), (2, "a b c")], "doc_id long, text string")
        export_token_shards(docs, out, MERGES, context_len=8,
                            num_shards=2, extra_alphabet="abc ")
        export_token_shards_delta(
            spark.createDataFrame([(6, "c ab a")],
                                  "doc_id long, text string"),
            out, MERGES, generation="g1")
        assert glob.glob(f"{out}/shard=*/gen-g1-*")
        export_token_shards_retire(spark, out, "g1")
        assert not glob.glob(f"{out}/shard=*/gen-g1-*.parquet")
        ids = {d for r in read_token_shards(spark, out).collect()
               for d in r.doc_ids}
        assert ids == {1, 2}
        # the retired marker resolved through the pointer protocol
        tok = commit.read_token_json(
            os.path.join(out, "_georiva_gens", "g1.json"))
        assert tok["retired"] is True
        # replay of the retired delivery: still a no-op
        export_token_shards_delta(
            spark.createDataFrame([(6, "c ab a")],
                                  "doc_id long, text string"),
            out, MERGES, generation="g1")
        assert not glob.glob(f"{out}/shard=*/gen-g1-*.parquet")
    finally:
        commit.register_backend(out, None)
