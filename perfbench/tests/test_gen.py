import numpy as np

import gen


def _corpus_digest(seed):
    tabs = gen.corpus(seed, sf=0.001)
    return {k: t.to_pylist()[:50] for k, t in tabs.items()}


def test_same_seed_same_inputs():
    assert gen.cities(3) == gen.cities(3)
    assert gen.weather_doc(3, "Ka Lo", gen.run_hr(2)) == gen.weather_doc(3, "Ka Lo", gen.run_hr(2))
    assert gen.event_batch(3, 1, n=500) == gen.event_batch(3, 1, n=500)
    assert _corpus_digest(3) == _corpus_digest(3)
    assert gen.analytics_passes(3, ["a", "b", "c"], 4) == gen.analytics_passes(3, ["a", "b", "c"], 4)
    a = gen.merge_rows(gen.rng(3, "lake_ops", 1), 150_000)
    b = gen.merge_rows(gen.rng(3, "lake_ops", 1), 150_000)
    assert a == b


def test_other_seed_other_inputs():
    assert gen.cities(3) != gen.cities(4)
    assert gen.weather_doc(3, "Ka Lo", gen.run_hr(2)) != gen.weather_doc(4, "Ka Lo", gen.run_hr(2))
    assert gen.event_batch(3, 1, n=500) != gen.event_batch(4, 1, n=500)
    assert _corpus_digest(3) != _corpus_digest(4)
    a = gen.merge_rows(gen.rng(3, "lake_ops", 1), 150_000)
    b = gen.merge_rows(gen.rng(4, "lake_ops", 1), 150_000)
    assert a != b


def test_cities_distinct_after_key_normalization():
    names = gen.cities(11)
    assert len(names) == 200
    assert len({c.lower().replace(" ", "_") for c in names}) == 200


def test_weather_doc_is_python_repr_with_valid_hour():
    import ast

    doc = ast.literal_eval(gen.weather_doc(5, "Ka Lo", gen.run_hr(30)))
    hour = int(doc["location"]["localtime"][11:13])
    assert 0 <= hour <= 23


def test_merge_rows_shape():
    rows = gen.merge_rows(gen.rng(1, "lake_ops", 0), 149_999)
    keys = np.array([r[0] for r in rows])
    assert len(rows) == 2000 and len(set(keys.tolist())) == 2000
    assert (keys > 149_999).sum() == 500
    old = keys[keys <= 149_999]
    assert old.min() >= 149_999 - 15_000
    # recent keys are favoured
    assert (old > 149_999 - 5_000).sum() > (old <= 149_999 - 10_000).sum()


def test_event_batch_late_and_duplicates():
    ev = gen.event_batch(2, 3, n=2000)
    ids = [e["event_id"] for e in ev]
    assert len(ev) == 2000 and len(set(ids)) == 2000 - 40
    assert min(ids) >= 3 * 2000
    start = gen.STREAM_T0.isoformat()
    assert all(e["ts"] >= start for e in ev)
    # one timestamp layout throughout (microseconds always written)
    assert {len(e["ts"]) for e in ev} == {26}
