"""Generators and output checks of the benchmark, at tiny sizes.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from perfbench import gen, workloads
from perfbench.run import start_spark, stop_spark
from perfbench.trace import Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = start_spark(str(tmp_path_factory.mktemp("spark")), 2, None)
    yield s
    stop_spark(s)


def test_site_is_seeded(tmp_path):
    a = gen.make_site(str(tmp_path / "a"), seed=3, n_dirs=3)
    b = gen.make_site(str(tmp_path / "b"), seed=3, n_dirs=3)
    c = gen.make_site(str(tmp_path / "c"), seed=4, n_dirs=3)
    assert [(f.relpath, f.data, f.in_zip) for f in a.files] == [
        (f.relpath, f.data, f.in_zip) for f in b.files
    ]
    assert [f.data for f in a.files] != [f.data for f in c.files]
    # the size ladder fixes the byte mix: only placement depends on the seed
    assert a.input_bytes == c.input_bytes
    assert sum(f.in_zip for f in a.files) == len(a.files) // 2
    assert max(len(f.data) for f in a.files) == 400 * 1024


def test_crawl_seeds_exist_in_pages(spark):
    from warcit_spark.sources.fixture import generate_pages

    pages = generate_pages(spark, 400, n_hosts=8)
    seeds = workloads.seed_frame(pages, seed=9, n_seeds=40)
    assert seeds.count() == 40
    assert seeds.join(pages, "url", "left_anti").count() == 0
    again = workloads.seed_frame(pages, seed=9, n_seeds=40)
    assert sorted(seeds.collect()) == sorted(again.collect())
    other = workloads.seed_frame(pages, seed=10, n_seeds=40)
    assert {r.url for r in seeds.collect()} != {r.url for r in other.collect()}


def test_query_tables_are_seeded(tmp_path):
    from perfbench import tables

    a, b, c = (tables.build(0.001, s) for s in (3, 3, 4))
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert tables.write_tables(str(tmp_path / "t"), 0.001, 3) > 0


def test_query_modules_match_the_builders():
    """Each timed query's module is one its builder imports."""
    import inspect

    import __spark_entry__ as entry

    qs = entry.queries()
    for name, module in workloads.QUERY_MODULES.items():
        src = inspect.getsource(qs[name])
        if module == "sql":
            assert "from warcit_spark." not in src, name
        else:
            assert f"from warcit_spark.{module} import" in src, name


def test_wrong_query_result_is_a_failed_operation(spark, tmp_path):
    wl = workloads.query_surface(spark, 2, str(tmp_path), Tracer("t", False), scale=0.1)
    wl.setup()
    good = wl.builders["t1_token_count"]
    wl.builders["t1_token_count"] = lambda sp, d: good(sp, d).limit(3)
    oks = wl.warm_up()
    assert oks.count(False) == 1
    assert not oks[wl.names.index("t1_token_count")]


def test_crawl_generator_reproduces_oracle_seen_set(spark, tmp_path):
    """The crawl workload's generated inputs drive the engine to the
    sequential oracle's seen set."""
    from tests import oracle as seq
    from warcit_spark.plans.crawl import CrawlConfig, run_crawl
    from warcit_spark.plans.state import CrawlState
    from warcit_spark.sources.fixture import generate_pages, generate_robots

    wl = workloads.crawl_ccweight(spark, 21, str(tmp_path), Tracer("t", False), scale=0.05)
    p = wl.p
    pages = generate_pages(
        spark, p["n_pages"], n_hosts=p["n_hosts"], body_kb=p["body_kb"],
        extra_links=p["extra_links"],
    ).persist()
    seeds = workloads.seed_frame(pages, 21, p["n_seeds"])
    robots = generate_robots(spark)
    cfg = CrawlConfig(host_budget=p["host_budget"], max_rounds=4, n_salt=4)
    state = CrawlState(str(tmp_path / "state"), seen_buckets=p["seen_buckets"])
    run_crawl(spark, state, pages, seeds, robots, cfg)
    got = {
        (r.url, r.round_seen, r.reason)
        for r in state.read_table(spark, "seen").collect()
    }
    want = seq.crawl(
        {r.url: {"html": bytes(r.html)} for r in pages.collect()},
        [(r.url, r.priority) for r in seeds.collect()],
        [tuple(r) for r in robots.collect()],
        host_budget=cfg.host_budget,
        max_rounds=cfg.max_rounds,
    )
    assert got == {(u, rnd, why) for u, (rnd, why) in want.seen.items()}
    pages.unpersist()


def test_corrupt_warc_part_is_a_failed_operation(spark, tmp_path):
    wl = workloads.warcit_ingest(spark, 5, str(tmp_path), Tracer("t", False), scale=0.2)
    wl.setup()
    out = wl.iterate()
    assert workloads.check_warc_output(wl.site, out["out_dir"]) == []
    part = sorted(p for p in os.listdir(out["out_dir"]) if p.startswith("part-"))[0]
    path = os.path.join(out["out_dir"], part)
    with open(path, "r+b") as fh:
        fh.seek(os.path.getsize(path) // 2)
        fh.write(b"\x00" * 64)
    assert workloads.check_warc_output(wl.site, out["out_dir"])
    assert wl.check(out) == [False]


def test_tampered_round_counter_is_a_failed_operation(spark, tmp_path):
    wl = workloads.crawl_ccweight(spark, 6, str(tmp_path), Tracer("t", False), scale=0.05)
    wl.setup()
    assert all(wl.warm_up())
    assert wl.check(wl.iterate()) == [True]
    out = wl.iterate()
    marker = os.path.join(out["root"], f"_committed_round_{wl.p['resume_round']:06d}.json")
    with open(marker) as fh:
        summary = json.load(fh)
    summary["urls_emitted"] += 1
    with open(marker, "w") as fh:
        json.dump(summary, fh)
    assert wl.check(out) == [False]
    assert not workloads.round_invariants([summary])[0]


def test_replay_reconciles_with_committed_round(spark, tmp_path):
    from perfbench.replay import replay_round

    wl = workloads.crawl_ccweight(spark, 8, str(tmp_path), Tracer("t", False), scale=0.05)
    wl.setup()
    wl.warm_up()
    out = wl.iterate()
    rp = replay_round(
        spark, out["state"], wl.pages, wl.robots, wl.p["resume_round"], wl._cfg()
    )
    assert rp["mismatch"] == {}
    assert rp["links_found"] > 0 and rp["urls_emitted"] > 0
    fetched = out["state"].read_round_delta(spark, "fetched", wl.p["resume_round"])
    assert fetched.where(F.col("record_type") == "resource").count() == rp["urls_emitted"]
    wl.check(out)
