"""Self-tests of the benchmark (no Spark): ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import inputs
from perfbench.workloads import (
    WORKLOADS, check_texts, content_key, dedup_check, exact_jaccard, shingle_set)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_metric_and_workload_names():
    spec = _spec()
    names = [m["name"] for sec in ("end_to_end", "per_layer") for m in spec[sec]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
               for sec in ("end_to_end", "per_layer") for m in spec[sec])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_generators_are_seeded(workload, tmp_path):
    gen = inputs.GENERATORS[workload]
    trees = []
    for run, seed in (("a", 3), ("b", 3), ("c", 4)):
        out = tmp_path / run
        out.mkdir()
        gen(seed, 40, str(out))
        trees.append(_tree(str(out)))
    assert trees[0] == trees[1]
    assert trees[0].keys() == trees[2].keys()
    assert trees[0] != trees[2]


def test_planted_wrong_text_is_caught():
    truth = {"u1": "alpha", "u2": "beta", "u3": "gamma"}
    good = list(truth.items())
    assert check_texts(good, truth) == set()
    assert check_texts([("u1", "alpha"), ("u2", "beta!"), ("u3", "gamma")],
                       truth) == {"u2"}
    assert check_texts(good[:2], truth) == {"u3"}
    assert check_texts(good + [("u1", "alpha")], truth) == {"u1"}
    assert check_texts(good + [("u9", "x")], truth) == {"u9"}


def test_planted_wrong_dedup_output_is_caught():
    texts = {"a": "x y z w v", "b": "x y z w v", "c": "x y z w q", "d": "p q r s"}
    planted = [{"base": "a", "replica": "b", "kind": "exact"}]
    j_ac = exact_jaccard(shingle_set(texts["a"]), shingle_set(texts["c"]))
    good = {"exact_dedup": ["a", "c", "d"],
            "minhash_lsh": [("a", "b", 1.0), ("a", "c", round(j_ac, 6))],
            "simhash_pairs": [("a", "b", 0)]}
    assert dedup_check(texts, planted, good) == (4 + 2 + 1 + 2, 0)
    assert dedup_check(texts, planted, {**good, "exact_dedup": ["a", "b", "d"]})[1] == 2
    assert dedup_check(texts, planted, {
        **good, "minhash_lsh": [("a", "b", 1.0), ("a", "c", 0.9)]})[1] == 1
    assert dedup_check(texts, planted, {**good, "simhash_pairs": []})[1] == 1


def test_dedup_reference_functions():
    assert content_key(" a\t\nb  c ") == content_key("a b c")
    assert content_key("a b") != content_key("a  c")
    assert shingle_set("a b") == {"a b"}
    assert shingle_set("a b c d") == {"a b c", "b c d"}
    assert exact_jaccard({"x", "y"}, {"y", "z"}) == pytest.approx(1 / 3)


def test_planted_replicas_have_known_provenance():
    rows = inputs.crawl_pages(5, 100)
    pages, planted = inputs.planted_replicas(rows, 5)
    text = {r["url"]: r["text"] for r in rows + pages}
    assert len(pages) == len(planted) == 100 // inputs.REPLICA_SHARE
    assert {p["kind"] for p in planted} == {"exact", "near"}
    for p in planted:
        a, b = text[p["base"]], text[p["replica"]]
        if p["kind"] == "exact":
            assert a != b and content_key(a) == content_key(b)
        else:
            assert 0 < exact_jaccard(shingle_set(a), shingle_set(b)) < 1
