"""Input generators: the same seed gives byte-identical inputs, another
seed gives other inputs, and the planted properties are present.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(root) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "medallion": lambda root, seed: gen.medallion_landing(
        root, seed, n_banks=200, n_claims=2000, n_employees=400),
    "tpch": lambda root, seed: gen.tpch_tables(root, seed, n_orders=1500),
    "corpus": lambda root, seed: gen.corpus(root, seed, n_docs=300, n_vecs=300),
    "events": lambda root, seed: gen.event_files(root, seed, n_files=10, per_file=200),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes(tmp_path, name):
    GENERATORS[name](str(tmp_path / "a"), 7)
    GENERATORS[name](str(tmp_path / "b"), 7)
    a, b = digest(tmp_path / "a"), digest(tmp_path / "b")
    assert a and a == b


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_other_bytes(tmp_path, name):
    GENERATORS[name](str(tmp_path / "a"), 7)
    GENERATORS[name](str(tmp_path / "b"), 8)
    a, b = digest(tmp_path / "a"), digest(tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if not k.startswith(("region", "nation")))


def test_medallion_plants_every_name_rule(tmp_path):
    inp = gen.medallion_landing(str(tmp_path), 3, n_banks=200, n_claims=3000, n_employees=400)
    with open(inp.files["claims"][0], encoding="utf-8") as fh:
        claims = fh.read()
    with open(inp.files["banks"][0], encoding="utf-8") as fh:
        banks = fh.read()
    employees = "".join(open(p, encoding="utf-8").read() for p in inp.files["employees"])
    text = claims + banks + employees
    for marker in [".", "/", "-", " (conglomerado)", " PRUDENCIAL", " INSTITUIÇÃO DE PAGAMENTO",
                   gen.SCFI_LONG, " DEUTSCHE", "BANCO SUMITOMO MITSUI BRASIL", " S.A.  ",
                   "SF3 CRÉDITO", "SOCIAL BANK BANCO MÚLTIPLO"]:
        assert marker in text, marker
    assert all(v > 0 for v in inp.violations.values())
    assert inp.duplicate_banks > 0
    assert ("SANTANA CRÉDITO" in {k[0] for k in inp.gold}
            and "BANCO CAPITAL" in {k[0] for k in inp.gold})


def test_corpus_and_events_plant_their_properties(tmp_path):
    c = gen.corpus(str(tmp_path / "c"), 3, n_docs=300, n_vecs=300)
    assert c.text_pairs and c.vec_pairs
    assert c.distinct_texts < c.n_docs            # the boilerplate hot bucket
    e = gen.event_files(str(tmp_path / "e"), 3, n_files=10, per_file=200)
    assert e.quarantined == {3, 7}
    assert sum(e.dup_counts) > 0 and sum(e.late_counts) > 0
    assert e.late_counts[:2] == [0, 0]


def test_query_sequence_is_seeded_permutation():
    pool = ["a", "b", "c", "d", "e"]
    s1, s2 = gen.query_sequence(pool, 1, 3), gen.query_sequence(pool, 1, 3)
    assert s1 == s2 and sorted(s1) == sorted(pool * 3)
    assert gen.query_sequence(pool, 2, 3) != s1
