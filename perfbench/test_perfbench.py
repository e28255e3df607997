"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import layers  # noqa: E402
import workloads as W  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_seeded():
    assert W.gen_pages(7, n_pages=20) == W.gen_pages(7, n_pages=20)
    assert W.gen_pages(7, n_pages=20) != W.gen_pages(8, n_pages=20)
    assert W.gen_corpus(7, 200, 50) == W.gen_corpus(7, 200, 50)
    assert W.gen_corpus(7, 200, 50) != W.gen_corpus(8, 200, 50)


def test_corpus_plants_near_duplicates_next_to_their_source():
    docs, _, planted = W.gen_corpus(3, 300, 10)
    assert planted
    for a, b in planted:
        assert b == a + 1
        wa, wb = docs[a]["text"].split(), docs[b]["text"].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) <= 2


def test_metric_names_and_counts():
    bench = _bench()
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    assert len(e2e) <= 16 and len(per_layer) <= 128
    for name in e2e + per_layer:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + per_layer)) == len(e2e) + len(per_layer)
    assert per_layer == list(layers.PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == list(layers.PER_LAYER.values())
    assert "setup_s" in e2e
    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)


def test_extract_check_fails_on_corrupted_text():
    rows = W.gen_pages(1, n_pages=5)
    expected = {r["url"]: r["text"] for r in rows}
    assert W.check_extract(expected, dict(expected))[:2] == (5, 5)
    bad = dict(expected)
    url = rows[2]["url"]
    bad[url] = bad[url].replace("\n", " ", 1)
    matched, checked, first = W.check_extract(expected, bad)
    assert matched / checked < 1 and first["url"] == url


def test_field_check_fails_on_corrupted_field():
    specs = W.field_specs()
    rows = W.gen_pages(1, n_pages=4)
    inputs = {r["url"]: r for r in rows}
    outputs = {r["url"]: {name: ref(r[col]) for name, (col, _, ref) in specs.items()}
               for r in rows}
    matched, checked, first = W.check_fields(inputs, outputs, specs)
    assert matched == checked == 4 * len(specs) and first is None
    url = rows[0]["url"]
    outputs[url]["price_float"] += 0.01  # a cent off must not pass rounding
    matched, checked, first = W.check_fields(inputs, outputs, specs)
    assert matched == checked - 1 and first["field"] == "price_float"
    outputs[url]["price_norm"] = "0.00"
    matched, checked, first = W.check_fields(inputs, outputs, specs)
    assert matched == checked - 2


def test_table_check_fails_on_corrupted_row():
    cols = ["id_a", "id_b", "cos"]
    rows = [(1, 2, 0.9876), (3, 4, 0.5)]
    assert W.check_tables(cols, rows, list(reversed(cols)),
                          [tuple(reversed(r)) for r in rows])
    assert not W.check_tables(cols, rows, cols, [(1, 2, 0.9876), (3, 4, 0.51)])
    assert not W.check_tables(cols, rows, cols, rows[:1])
    # round(-0.00003, 4) is 0.0 in Spark and -0.0 in DuckDB: equal values
    assert W.check_tables(cols, [(5, 6, 0.0)], cols, [(5, 6, -0.0)])
    assert not W.check_tables(cols, [(5, 6, 0.0)], cols, [(5, 6, -0.0001)])


def test_digest_check_fails_on_corrupted_log():
    log = [(1, "https://a/"), (1, "https://b/"), (2, "https://c/")]
    same = W.digest(list(reversed(log)))
    assert W.check_digests([(W.digest(log), same)]) == (1, 1)
    moved = W.digest([(1, "https://a/"), (2, "https://b/"), (2, "https://c/")])
    matched, checked = W.check_digests([(W.digest(log), same), (moved, same)])
    assert matched / checked < 1
