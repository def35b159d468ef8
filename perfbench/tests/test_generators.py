"""Determinism of the seeded inputs and the relabeller's invariance.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.dirname(BENCH))

import gen_corpus  # noqa: E402
import gen_drop  # noqa: E402
import gen_star  # noqa: E402
import oracle  # noqa: E402


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_drop_same_seed_is_byte_identical(tmp_path):
    a = gen_drop.write_drop(5, str(tmp_path / "a"), 3_000)
    b = gen_drop.write_drop(5, str(tmp_path / "b"), 3_000)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert a == b


def test_drop_other_seed_differs(tmp_path):
    gen_drop.write_drop(5, str(tmp_path / "a"), 3_000)
    gen_drop.write_drop(6, str(tmp_path / "b"), 3_000)
    a, b = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert any(a[k] != b[k] for k in a)


def test_drop_truth_covers_every_table_and_status(tmp_path):
    t = gen_drop.write_drop(9, str(tmp_path), 20_000)
    assert len(t.raw_rows) == 10
    facts = ("rfb_empresas", "rfb_estabelecimentos", "rfb_socios", "rfb_simples")
    for table in facts:
        assert 0 < t.corrupt_rows[table] < t.raw_rows[table] * 0.03
    assert sorted(t.passed[f] for f in facts) == [False, False, True, True]
    assert set(t.zip_status.values()) == {"sucesso", "falhou", "ignorada"}
    assert sum(name.startswith("Empresas") for name in t.zip_status) == 3
    assert t.flaky_zip in t.zip_status


def test_star_same_seed_same_tables(tmp_path):
    import pyarrow.parquet as pq

    gen_star.write_star(3, str(tmp_path / "a"), scale=0.01)
    gen_star.write_star(3, str(tmp_path / "b"), scale=0.01)
    gen_star.write_star(4, str(tmp_path / "c"), scale=0.01)
    for t in gen_star.STAR_TABLES:
        a = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        assert a.equals(pq.read_table(str(tmp_path / "b" / f"{t}.parquet")))
    orders = [pq.read_table(str(tmp_path / d / "orders.parquet")) for d in "ac"]
    assert not orders[0].equals(orders[1])


@pytest.fixture(scope="module")
def oracle_sql():
    pytest.importorskip("duckdb")
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    return {p: next(v for k, v in sql.items() if k.startswith(p + "_")) for p in ("d03", "d13", "s06")}


def test_relabelled_corpus_keeps_d03_d13_answers(tmp_path, oracle_sql):
    base, relabelled = str(tmp_path / "base"), str(tmp_path / "relabelled")
    gen_corpus.write_corpus(21, base, n_docs=400, n_vecs=50)
    doc_map, _ = gen_corpus.relabel(77, base, relabelled)
    tables = ("documents", "embeddings")
    queries = {p: oracle_sql[p] for p in ("d03", "d13")}
    src = oracle.duckdb_answers(base, tables, queries)
    new = oracle.duckdb_answers(relabelled, tables, queries)

    assert len(src["d03"]) > 0, "the corpus must contain near-duplicate pairs"
    assert not set(new["d03"]["doc_a"]) & set(src["d03"]["doc_a"]), "ids must change"
    mapped = new["d03"].copy()
    for col in ("doc_a", "doc_b"):
        mapped[col] = doc_map.inverse(mapped[col].to_numpy())
    assert oracle.result_hash(mapped) == oracle.result_hash(src["d03"])
    assert src["d13"].iloc[0]["n_dup_spans"] > 0
    assert oracle.result_hash(new["d13"]) == oracle.result_hash(src["d13"])


def test_banded_pairs_answer_matches_duckdb(tmp_path, oracle_sql):
    gen_corpus.write_corpus(8, str(tmp_path), n_docs=50, n_vecs=300)
    want = oracle.duckdb_answers(str(tmp_path), ("embeddings",), {"s06": oracle_sql["s06"]})["s06"]
    got = oracle.banded_pairs_answer(str(tmp_path), oracle_sql["s06"])
    assert len(want) > 5, "the corpus must contain near-duplicate vector pairs"
    assert oracle.result_hash(got) == oracle.result_hash(want)
