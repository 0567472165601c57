"""Tests of the benchmark itself: seeded generators, the plain-Python RML
expectation, and that a corrupted output is counted as a failed pass.

    python3 -m pytest perfbench -q -p no:cacheprovider --basetemp=<scratch dir>

The Spark tests start one small local session (about a minute cold).
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, run
from perfbench.workloads import KgBuild, RmlMap

SMALL_PAGES = gen.PageSpec(n_pages=60, min_words=60, max_words=90, n_entities=40,
                           n_files=2)
SMALL_RML = gen.RmlSpec(n_orders=3000, n_customers=200, n_files=2)


def test_page_generator_is_seeded():
    a, fa = gen.page_rows(3, SMALL_PAGES)
    b, fb = gen.page_rows(3, SMALL_PAGES)
    c, _ = gen.page_rows(4, SMALL_PAGES)
    assert a == b and fa == fb
    assert a != c
    n_exact = round(60 * gen.EXACT_DUP_SHARE)
    n_near = round(60 * gen.NEAR_DUP_SHARE)
    assert fa["expected_kept"] == 60 - n_exact - n_near
    assert len({r["text"] for r in a}) == 60 - n_exact


def test_rml_generator_is_seeded(tmp_path):
    d1 = gen.make_rml(5, str(tmp_path / "a"), SMALL_RML)
    d2 = gen.make_rml(5, str(tmp_path / "b"), SMALL_RML)
    d3 = gen.make_rml(6, str(tmp_path / "c"), SMALL_RML)
    assert d1 == d2 != d3
    e = gen.rml_expectation(5, SMALL_RML)
    assert e == gen.rml_expectation(5, SMALL_RML)
    assert e.shares["dup_row_share"] > 0 and e.shares["city_space_share"] > 0


def test_rml_expectation_semantics():
    customers = [
        {"cid": "c1", "handle": "h1", "since": "2020-01-02", "profile": {"name": "A B"}},
        {"cid": "c1", "handle": "h2", "since": "2020-01-03"},  # not the first match
        {"cid": "c2", "handle": "h 3", "since": ""},  # space: subject dropped
    ]
    orders = [
        ["o1", "c1", "1.50", "", "Oslo", "t1"],
        ["o1", "c1", "1.50", "", "Oslo", "t2"],  # same projected row
        ["o2", "c2", "2.00", "n", "New Oslo", "t3"],  # join IRI + city dropped
        ["o3", "zz", "3.00", "m", "Bonn", "t4"],  # dangling join key
    ]
    nt, quads = gen.expected_rml(customers, orders)
    ex = "http://bench.example.org/"
    assert f"<{ex}order/o1> <{ex}customer> <{ex}customer/h1> ." in nt
    assert not any("customer/h2> ." in ln and "order/" in ln for ln in nt)
    assert not any("h 3" in ln for ln in nt)
    assert sum(ln.startswith(f"<{ex}order/o1> a ") for ln in nt) == 1
    assert not any(ln.startswith(f"<{ex}order/o1> <{ex}note>") for ln in nt)
    assert f'<{ex}order/o2> <{ex}note> "n"^^<{gen.XSD}string> .' in nt
    assert f'<{ex}customer/h1> <{ex}since> "2020-01-02"^^<{gen.XSD}date> .' in nt
    assert not any("New Oslo" in ln for ln in nt)
    assert any(q.endswith(f"{gen.RDF_TYPE} <{ex}Order> {gen.ORDERS_GRAPH}")
               for q in quads)
    # o1: type, amount, city, customer; o2: type, amount, note;
    # o3: type, amount, note, city; h1: type, name, since; h2: type, since
    assert len(nt) == len(quads) == 4 + 3 + 4 + 3 + 2


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.pin_env(str(tmp_path_factory.mktemp("work")))
    session = run.Session()
    yield session.start()
    session.stop()
    run.Session.shutdown_jvm()


def _corrupting(run_once, corrupt):
    def corrupted(spark, out):
        run_once(spark, out)
        corrupt(out)
    return corrupted


def test_rml_corrupted_output_counts_as_failed(spark, tmp_path):
    wl = RmlMap(str(tmp_path), 7, SMALL_RML)
    wl.generate()
    wl.setup(spark)
    ok = run.timed_loop(spark, wl, str(tmp_path), 0)
    assert [r["ok"] for r in ok] == [True]
    assert ok[0]["triples"] == wl.expect.triples  # read from the quad table

    def drop_a_line(out):
        part = sorted(glob.glob(os.path.join(out, "nt", "part-*")))[0]
        with open(part, encoding="utf-8") as f:
            lines = f.readlines()
        with open(part, "w", encoding="utf-8") as f:
            f.writelines(lines[1:])

    wl.run_once = _corrupting(wl.run_once, drop_a_line)
    bad = run.timed_loop(spark, wl, str(tmp_path), 0)
    assert [r["ok"] for r in bad] == [False]
    assert "N-Triples" in bad[0]["problems"][0]
    e2e = run.end_to_end({"setup_s": 1.0}, ok + bad, 1.0)
    assert e2e["ok_frac"][0] == 0.5
    # a failed pass never enters the timing medians, however fast it was
    bad[0]["wall_s"] = ok[0]["wall_s"] / 10
    e2e = run.end_to_end({"setup_s": 1.0}, ok + bad, 1.0)
    assert e2e["wall_s"][0] == ok[0]["wall_s"]


def test_kg_corrupted_output_counts_as_failed(spark, tmp_path):
    wl = KgBuild(str(tmp_path), 8, SMALL_PAGES)
    wl.generate()
    wl.setup(spark)
    ok = run.timed_loop(spark, wl, str(tmp_path), 0)
    assert [r["ok"] for r in ok] == [True], ok

    def rewrite(out, edit):
        path = wl.triples_path(out)
        for f in glob.glob(os.path.join(path, "*.parquet")):
            table = pq.read_table(f)
            os.remove(f)
            pq.write_table(pa.Table.from_pylist(edit(table.to_pylist()),
                                                schema=table.schema), f)

    def drop_page_triple(out):
        done = []

        def edit(rows):
            for i, r in enumerate(rows):
                if r["graph"] == "pages" and not done:
                    done.append(i)
                    return rows[:i] + rows[i + 1:]
            return rows
        rewrite(out, edit)

    def uncanonical_mention(out):
        def edit(rows):
            return [dict(r, obj=r["obj"][:-1] + "zz>") if r["graph"] == "mentions"
                    else r for r in rows]
        rewrite(out, edit)

    run_once = wl.run_once
    for corrupt, expect in ((drop_page_triple, "3"),
                            (uncanonical_mention, "canonical")):
        wl.run_once = _corrupting(run_once, corrupt)
        bad = run.timed_loop(spark, wl, str(tmp_path), 0)
        assert [r["ok"] for r in bad] == [False]
        assert any(expect in p for p in bad[0]["problems"]), bad[0]["problems"]
