"""The workload generators are pure functions of the seed."""

import json

import numpy as np
import pytest

from perfbench import gen


@pytest.mark.parametrize("seed", [0, 1, 17])
def test_grid_inputs_deterministic_per_seed(seed):
    a, b = gen.grid_spec(seed), gen.grid_spec(seed)
    assert a == b
    assert gen.boundary_sets(a) == gen.boundary_sets(b)
    assert gen.request_params(a, 8) == gen.request_params(b, 8)
    for t in (0, a.history, a.history + a.landings - 1):
        assert np.array_equal(gen.grid_values(a, t), gen.grid_values(b, t))


def test_grid_inputs_differ_across_seeds():
    a, b = gen.grid_spec(1), gen.grid_spec(2)
    assert gen.boundary_sets(a) != gen.boundary_sets(b)
    assert not np.array_equal(gen.grid_values(a, 0), gen.grid_values(b, 0))


@pytest.mark.parametrize("seed", [0, 1, 17])
def test_corpus_inputs_deterministic_per_seed(seed):
    docs = gen.corpus_docs(seed)
    assert docs == gen.corpus_docs(seed)
    assert len({d.doc_id for d in docs}) == len(docs)
    assert gen.takedown_requests(seed, docs, 10) == \
        gen.takedown_requests(seed, docs, 10)
    assert gen.probe_queries(seed, docs, 3) == gen.probe_queries(seed, docs, 3)
    assert gen.recrawl_extra(seed, "shard-1", 2) == \
        gen.recrawl_extra(seed, "shard-1", 2)
    assert [gen.embedding(d.doc_id, seed) for d in docs[:5]] == \
        [gen.embedding(d.doc_id, seed) for d in docs[:5]]
    assert gen.corpus_docs(seed + 1) != docs


def test_takedown_requests_are_disjoint_and_never_empty_a_shard():
    docs = gen.corpus_docs(5)
    reqs = gen.takedown_requests(5, docs, 16)
    taken = [i for r in reqs for i in r]
    assert len(taken) == len(set(taken))
    per_shard = {}
    for d in docs:
        per_shard.setdefault(d.shard, set()).add(d.doc_id)
    for ids in per_shard.values():
        assert len(ids - set(taken)) >= gen.DOCS_PER_SHARD // 2
    assert len(reqs) == 16
    for r in reqs:
        assert len({i // 1000 for i in r}) == 1   # one shard per request


def test_boundary_sets_straddle_the_mask_gate():
    spec = gen.grid_spec(3)
    sets = gen.boundary_sets(spec)
    gate = gen.MASK_BROADCAST_GATE
    assert gen.mask_estimate_rows(sets["shapes"], spec.res) < gate
    assert gen.mask_estimate_rows(sets["holes"], spec.res) > gate
    assert all(len(json.loads(g)["coordinates"]) == 2
               for _, _, _, g in sets["holes"])


def test_inside_even_odd_with_hole():
    outer = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]
    geo = json.dumps({"type": "Polygon", "coordinates": [outer, hole]})
    lon = np.array([0.5, 2.0, 3.5, 5.0])
    lat = np.array([0.5, 2.0, 3.5, 2.0])
    assert gen.inside(geo, lon, lat).tolist() == [True, False, True, False]


def test_grib2_round_trip_is_exact():
    from georiva_spark.sources.grib2_codec import (decode_grib2,
                                                   encode_grib2_message)
    spec = gen.grid_spec(4)
    t = spec.history
    buf = encode_grib2_message(gen.grib2_field(spec, t), shortname="t",
                               ref_time=gen.month_time(spec, t),
                               **gen.grib2_geometry(spec))
    (msg,) = decode_grib2(buf)
    assert np.array_equal(np.asarray(msg["values"], dtype=np.float64),
                          gen.grib2_field(spec, t))
