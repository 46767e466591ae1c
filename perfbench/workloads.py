"""The benchmark's workloads: set-up, one timed iteration, output checks.

A workload object is created once per run.  ``setup`` (input generation
and caching) is repeated by the runner for the ``setup_s`` median, then
``warm_up`` runs once, untimed.  ``iterate`` is the timed unit; ``check``
runs after each iteration, outside its timed region, and returns one
boolean per operation so a wrong answer is never timed as a success.
``probe`` runs only in a traced run, between an iteration and its check,
and times forced calls into each layer's public functions for the
per-layer metrics.  ``min_iters`` is the fewest timed iterations a run
makes.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from perfbench import gen, tables
from perfbench.trace import MIB, Tracer


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class WarcitIngest:
    """Directory tree + zip of a seeded site -> gzip WARC parts."""

    op_span = "plans.warcit_pipeline.warcit_run"
    min_iters = 1

    def __init__(self, spark, seed: int, work: str, tracer: Tracer, n_dirs: int):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.n_dirs = n_dirs
        self.site: gen.Site | None = None
        self.walls: list[float] = []
        self.layer: dict[str, list[float]] = {}
        self._n = 0

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        """Generate the site (repeated for ``setup_s``)."""
        self.site = gen.make_site(os.path.join(self.work, "input"), self.seed, self.n_dirs)

    def warm_up(self) -> list[bool]:
        """One checked ``warcit_run``: JIT, codegen and Python workers."""
        return self.check(self._run_once())

    # ---------------------------------------------------------- iteration
    def _run_once(self) -> dict:
        from warcit_spark.plans.warcit_pipeline import warcit_run

        self._n += 1
        out_dir = os.path.join(self.work, f"warc-{self._n:04d}")
        shutil.rmtree(out_dir, ignore_errors=True)
        out = {"out_dir": out_dir, "walls": [], "error": None}
        try:
            with self.tracer.span(self.op_span):
                t0 = time.perf_counter()
                out["manifest"] = warcit_run(
                    self.spark, self.site.inputs, gen.URL_PREFIX, out_dir, mode="xb"
                ).collect()
                out["walls"].append(time.perf_counter() - t0)
        except Exception:  # the run is a failed operation
            out["error"] = traceback.format_exc()
        return out

    def iterate(self) -> dict:
        out = self._run_once()
        self.walls += out["walls"]
        return out

    # -------------------------------------------------------------- check
    def check(self, out: dict) -> list[bool]:
        try:
            problems = [out["error"]] if out["error"] else check_warc_output(
                self.site, out["out_dir"]
            )
            if problems:
                print("\n".join(problems[:10]), file=sys.stderr)
                return [False]
            self.output_bytes = _dir_bytes(out["out_dir"])
            self.parts = len(out["manifest"])
            return [True]
        finally:
            shutil.rmtree(out["out_dir"], ignore_errors=True)

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict[str, float]:
        op = statistics.median(self.walls)
        return {
            "op_s": op,
            "items_per_s": len(self.site.files) / op,
            "input_mib_per_s": self.site.input_bytes / MIB / op,
            "output_bytes_per_input_byte": self.output_bytes / self.site.input_bytes,
        }

    def probe(self, out: dict) -> None:
        """Forced scans and the forced records frame, each noop-written;
        once per run (the inputs do not change between iterations)."""
        from warcit_spark.plans.warcit_pipeline import files_to_warc_records
        from warcit_spark.sources.binary_files import scan_input

        if self.layer:
            return
        sp, site = self.spark, self.site
        with self.tracer.span("sources.binary_files.scan_dir"):
            d = _timed(lambda: _force(scan_input(sp, site.dir_path, gen.URL_PREFIX)))
        with self.tracer.span("sources.binary_files.scan_zip"):
            z = _timed(lambda: _force(scan_input(sp, site.zip_path, gen.URL_PREFIX)))
        with self.tracer.span("plans.warcit_pipeline.files_to_warc_records"):
            recs = files_to_warc_records(sp, site.inputs, gen.URL_PREFIX)
            r = _timed(lambda: _force(recs))
        self.layer.setdefault("scan_dir", []).append(d)
        self.layer.setdefault("scan_zip", []).append(z)
        self.layer.setdefault("records", []).append(r)

    def per_layer(self) -> dict[str, float]:
        med = {k: statistics.median(v) for k, v in self.layer.items()}
        return {
            "sources.binary_files.scan_dir_s": med["scan_dir"],
            "sources.binary_files.scan_zip_s": med["scan_zip"],
            "sources.binary_files.files": len(self.site.files),
            "sources.binary_files.input_mib": self.site.input_bytes / MIB,
            "plans.warcit_pipeline.records_self_s": max(
                0.0, med["records"] - med["scan_dir"] - med["scan_zip"]
            ),
            "plans.warcit_pipeline.records": self.site.expected_records(),
            "sinks.warc.write_self_s": max(
                0.0, statistics.median(self.walls) - med["records"]
            ),
            "sinks.warc.output_mib": self.output_bytes / MIB,
            "sinks.warc.parts": self.parts,
        }

    def input_desc(self) -> dict:
        return {
            "files": len(self.site.files),
            "input_mib": round(self.site.input_bytes / MIB, 3),
            "zip_members": sum(f.in_zip for f in self.site.files),
        }


def check_warc_output(site: gen.Site, out_dir: str) -> list[str]:
    """Read every part back; return the problems found (empty = correct).

    Checks the record count (files plus index revisits), every resource's
    payload against the generated bytes (header digest and payload
    sha1), and the defined total order across parts.
    """
    from warcit_spark.sinks.warc import read_warc_records

    problems: list[str] = []
    by_url = {f.url: f for f in site.files}
    got: list[tuple[str, str]] = []
    parts = sorted(p for p in os.listdir(out_dir) if p.startswith("part-"))
    for part in parts:
        try:
            recs = read_warc_records(os.path.join(out_dir, part))
        except Exception as e:  # a corrupt part is a failed check, not a crash
            problems.append(f"{part}: unreadable ({type(e).__name__}: {e})")
            continue
        for rec in recs:
            h = rec["headers"]
            kind = h.get("WARC-Type")
            if kind == "warcinfo":
                continue
            uri = h.get("WARC-Target-URI", "")
            got.append((kind, uri))
            if kind != "resource":
                continue
            f = by_url.get(uri)
            if f is None:
                problems.append(f"unexpected resource {uri}")
                continue
            want = gen.sha1_b32(f.data)
            if h.get("WARC-Payload-Digest") != want:
                problems.append(f"digest header mismatch for {uri}")
            if gen.sha1_b32(rec["payload"]) != want:
                problems.append(f"payload mismatch for {uri}")
    if len(got) != site.expected_records():
        problems.append(f"{len(got)} records, expected {site.expected_records()}")
    elif got != site.expected_order():
        problems.append("records out of (source path, class, seq) order")
    return problems


class CrawlRound:
    """One resumed ``crawl_round`` over a generated corpus.

    Warm-up crawls rounds ``0 .. resume_round - 1`` from the seed frontier
    and keeps that state as a snapshot.  Each timed operation copies the
    snapshot to a fresh state directory (untimed) and runs round
    ``resume_round`` on it, which is the engine's own resume path.  Every
    repetition therefore does identical work against the same seen set,
    and must commit an identical summary.
    """

    op_span = "plans.crawl.crawl_round"
    min_iters = 1

    def __init__(
        self, spark, seed, work, tracer, *, n_pages, n_hosts, body_kb,
        extra_links, n_seeds, host_budget, resume_round, seen_buckets=16,
    ):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.p = dict(
            n_pages=n_pages, n_hosts=n_hosts, body_kb=body_kb,
            extra_links=extra_links, n_seeds=n_seeds, host_budget=host_budget,
            resume_round=resume_round, seen_buckets=seen_buckets,
        )
        self.pages = self.seeds = self.robots = self.mime = None
        self.snapshot: str | None = None
        self.walls: list[float] = []
        self.reference: dict | None = None
        self.replays: list[dict] = []
        self.fetched_bytes = 0
        self.written_bytes = 0
        self.state_stats: dict = {}
        self._n = 0

    def _cfg(self):
        from warcit_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            host_budget=self.p["host_budget"], n_salt=16, broadcast_fetch=False
        )

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        """Generate and cache the corpus (repeated for ``setup_s``)."""
        from warcit_spark.plans.crawl import _mime_dim
        from warcit_spark.sources.fixture import generate_pages, generate_robots

        for df in (self.pages, self.mime):
            if df is not None:
                df.unpersist(blocking=True)
        p = self.p
        self.pages = (
            generate_pages(
                self.spark, p["n_pages"], n_hosts=p["n_hosts"],
                body_kb=p["body_kb"], extra_links=p["extra_links"],
            )
            .select("url", "warc_ts", "html")
            .persist()
        )
        self.pages.count()
        self.seeds = seed_frame(self.pages, self.seed, p["n_seeds"])
        self.robots = generate_robots(self.spark)
        self.mime = _mime_dim(self.spark).persist()
        self.mime.count()

    def warm_up(self) -> list[bool]:
        """Crawl up to the resumed round; check the rounds it committed."""
        from warcit_spark.plans.crawl import canonical_seed_frontier, crawl_round
        from warcit_spark.plans.state import CrawlState

        self.snapshot = os.path.join(self.work, "snapshot")
        shutil.rmtree(self.snapshot, ignore_errors=True)
        state = CrawlState(self.snapshot, seen_buckets=self.p["seen_buckets"])
        state.write_delta(canonical_seed_frontier(self.seeds), "frontier", 0)
        for r in range(self.p["resume_round"]):
            crawl_round(self.spark, state, self.pages, self.robots, r, self._cfg(), self.mime)
        return round_invariants(committed_summaries(state))

    # ---------------------------------------------------------- iteration
    def iterate(self) -> dict:
        from warcit_spark.plans.crawl import crawl_round
        from warcit_spark.plans.state import CrawlState

        r = self.p["resume_round"]
        self._n += 1
        root = os.path.join(self.work, f"state-{self._n:04d}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.snapshot, root)
        state = CrawlState(root, seen_buckets=self.p["seen_buckets"])
        out = {"root": root, "state": state, "walls": [], "replays": [], "error": None}
        try:
            with self.tracer.span(self.op_span, round=r):
                t0 = time.perf_counter()
                crawl_round(self.spark, state, self.pages, self.robots, r, self._cfg(), self.mime)
                out["walls"].append(time.perf_counter() - t0)
        except Exception:  # the round is a failed operation
            out["error"] = traceback.format_exc()
            return out
        self.walls += out["walls"]
        return out

    # -------------------------------------------------------------- check
    def check(self, out: dict) -> list[bool]:
        """The resumed round must reconcile, agree with its replay (traced
        runs) and commit the same summary on every repetition."""
        r = self.p["resume_round"]
        state = out["state"]
        try:
            if out["error"]:
                print(out["error"], file=sys.stderr)
                return [False]
            summary = committed_summaries(state)[r]
            ok = round_invariants([summary])[0]
            ok = ok and all(not rp["mismatch"] for rp in out["replays"])
            if self.reference is None:
                self.reference = summary
            ok = ok and summary == self.reference
            if not self.fetched_bytes:  # identical on every repetition
                self.urls = summary["urls_emitted"]
                self.fetched_bytes = (
                    state.read_round_delta(self.spark, "fetched", r)
                    .where(F.col("record_type") == "resource")
                    .agg(F.sum("size")).first()[0]
                )
                self.written_bytes = _dir_bytes(out["root"]) - _dir_bytes(self.snapshot)
                self.state_stats = {
                    "seen_rows": state.read_table(self.spark, "seen").count(),
                    "disk_mib": _dir_bytes(out["root"]) / MIB,
                }
            return [ok]
        finally:
            shutil.rmtree(out["root"], ignore_errors=True)

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict[str, float]:
        op = statistics.median(self.walls)
        return {
            "op_s": op,
            "items_per_s": self.urls / op,
            "input_mib_per_s": self.fetched_bytes / MIB / op,
            "output_bytes_per_input_byte": self.written_bytes / self.fetched_bytes,
        }

    def probe(self, out: dict) -> None:
        """Drift guard and per-layer numbers: replay the round that was
        just committed from the layers' public functions; ``check`` fails
        the operation unless the replay's counters equal the summary."""
        from perfbench.replay import replay_round

        if out["error"]:
            return
        r = self.p["resume_round"]
        with self.tracer.span("replay", round=r):
            out["replays"].append(
                replay_round(self.spark, out["state"], self.pages, self.robots, r, self._cfg())
            )
        self.replays += out["replays"]

    def per_layer(self) -> dict[str, float]:
        def med(k):
            return statistics.median(rp[k] for rp in self.replays)

        def ratio(num, den):
            d = sum(rp[den] for rp in self.replays)
            return sum(rp[num] for rp in self.replays) / d if d else 0.0

        op = statistics.median(self.walls)
        return {
            "operators.links.extract_s": med("extract_s"),
            "operators.links.round_share": (med("extract_s") + med("canonicalize_s")) / op,
            "operators.links.links_per_page": ratio("raw_links", "linkable_pages"),
            "functions.urls.canonicalize_s": med("canonicalize_s"),
            "functions.urls.distinct_ratio": ratio("distinct_raw_links", "raw_links"),
            "operators.robots.apply_s": med("robots_s"),
            "operators.robots.denied_ratio": ratio("robots_denied", "urls_in"),
            "plans.politeness.prerank_s": med("prerank_s"),
            "plans.politeness.rank_s": med("rank_s"),
            "plans.politeness.selected_ratio": ratio("urls_emitted", "urls_in"),
            "plans.state.write_delta_s": med("write_delta_s"),
            "plans.state.read_seen_s": med("read_seen_s"),
            "plans.state.seen_rows": self.state_stats["seen_rows"],
            "plans.state.disk_mib": self.state_stats["disk_mib"],
            "plans.crawl.new_url_ratio": ratio("new_urls", "links_found"),
        }

    def input_desc(self) -> dict:
        return dict(self.p)


def seed_frame(pages, seed: int, n_seeds: int):
    """seeds(url, priority): ``n_seeds`` page URLs chosen by the seed, so
    every seed URL is a page by construction."""
    key = F.xxhash64("url", F.lit(seed))
    # priority is a seeded pure function of the url, in (0, 1]
    prio = F.lit(1.0) - F.abs(key % 1000) / 1000.0
    return (
        pages.select("url").orderBy(key, "url").limit(n_seeds)
        .select("url", prio.alias("priority"))
    )


def committed_summaries(state) -> list[dict]:
    """The commit markers' summaries, in round order, without the
    wall-clock commit time."""
    out = []
    for r in range(state.committed_round() + 1):
        s = state.round_summary(r)
        s.pop("committed_at_unix", None)
        out.append(s)
    return out


def round_invariants(summaries: list[dict]) -> list[bool]:
    """Per committed round: every frontier URL is denied, emitted, or
    deferred (``frontier_next - new_urls``)."""
    return [
        s["urls_in"]
        == s["robots_denied"] + s["urls_emitted"] + (s["frontier_next"] - s["new_urls"])
        for s in summaries
    ]


# The queries ``query_surface`` times, each with the warcit_spark module
# its builder imports (``sql``: plain DataFrame code): bench.py's first
# HEADLINE query and one query each for the text, dedup, similarity and
# graph modules, which no other workload runs.  A query's first,
# oracle-checked execution in a run costs about 1-2 s on 4 cores at any
# table size, so more queries do not fit the per-run budget; see
# layers.json "left_out".
QUERY_MODULES = {
    "q1_pricing_summary": "sql",
    "t1_token_count": "functions.text",
    "t4_exact_dedup": "operators.dedup",
    "ann1_cosine_topk": "operators.similarity",
    "g1_pagerank": "operators.graph",
}


class QuerySurface:
    """``QUERY_MODULES`` over seeded query tables.

    The warm-up is the run's cold pass: every query is collected and
    compared with its DuckDB ``oracle_sql`` twin (row count, column
    names, ``tools/check_correctness.py``'s canonical value hash).  A
    timed iteration is one pass over all queries in a seed-shuffled
    order, each forced with a noop write.  ``op_s`` is the sum of the
    queries' median seconds over the run's passes.
    """

    op_span = "queries.pass"
    min_iters = 1

    def __init__(self, spark, seed: int, work: str, tracer: Tracer, sf: float):
        import __spark_entry__ as entry

        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.sf = sf
        self.dir = os.path.join(work, "tables")
        self.builders = entry.queries()
        self.oracles = entry.oracle_sql()
        self.names = list(QUERY_MODULES)
        self.input_bytes = 0
        self.result_bytes = 0
        self.rows: dict[str, int] = {}
        self.samples: dict[str, list[float]] = {n: [] for n in self.names}
        self.walls: list[float] = []
        self._n = 0

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        """Write the seeded tables (repeated for ``setup_s``)."""
        self.input_bytes = tables.write_tables(self.dir, self.sf, self.seed)

    def warm_up(self) -> list[bool]:
        """Cold pass, checked against the DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        for t in tables.TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        oks = []
        try:
            for name in self.names:
                try:
                    problem = self._check_query(con, name)
                except Exception:  # an error is a failed check
                    problem = traceback.format_exc()
                if problem:
                    print(f"{name}: {problem}", file=sys.stderr)
                oks.append(not problem)
        finally:
            con.close()
        return oks

    def _check_query(self, con, name: str) -> str | None:
        import pandas as pd
        from tools.check_correctness import frame_hash

        sdf = self.builders[name](self.spark, self.dir)
        scols = list(sdf.columns)
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(self.oracles[name])
        ocols = [d[0] for d in res.description]
        # DuckDB's pandas fetch path, as the correctness gate renders it
        orows = [
            tuple(None if v is pd.NaT else v for v in row)
            for row in res.df().itertuples(index=False, name=None)
        ]
        if sorted(scols) != sorted(ocols):
            return f"columns differ: spark={sorted(scols)} duckdb={sorted(ocols)}"
        if len(srows) != len(orows):
            return f"row count: spark={len(srows)} duckdb={len(orows)}"
        shash, lines = frame_hash(srows, scols)
        if shash != frame_hash(orows, ocols)[0]:
            return f"value hash differs ({len(srows)} rows)"
        self.rows[name] = len(srows)
        self.result_bytes += sum(len(line) + 1 for line in lines)
        return None

    # ---------------------------------------------------------- iteration
    def iterate(self) -> dict:
        self._n += 1
        order = list(self.names)
        random.Random(f"{self.seed}-{self._n}").shuffle(order)
        out = {"walls": [], "seconds": {}, "errors": {}}
        with self.tracer.span(self.op_span, order=order):
            for name in order:
                try:
                    with self.tracer.span(f"queries.{name}", module=QUERY_MODULES[name]):
                        t0 = time.perf_counter()
                        _force(self.builders[name](self.spark, self.dir))
                        out["seconds"][name] = time.perf_counter() - t0
                except Exception:  # the query is a failed operation
                    out["errors"][name] = traceback.format_exc()
        if not out["errors"]:
            out["walls"].append(sum(out["seconds"].values()))
        return out

    def check(self, out: dict) -> list[bool]:
        """One operation per query: a failed query fails its operation
        and drops the pass from the timings."""
        for name, err in out["errors"].items():
            print(f"{name}: {err}", file=sys.stderr)
        if not out["errors"]:
            self.walls += out["walls"]
            for name, secs in out["seconds"].items():
                self.samples[name].append(secs)
        return [name not in out["errors"] for name in self.names]

    def probe(self, out: dict) -> None:
        """Per-query seconds are recorded by every pass."""

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict[str, float]:
        op = sum(q["median_s"] for q in self.per_query())
        return {
            "op_s": op,
            "items_per_s": len(self.names) / op,
            "input_mib_per_s": self.input_bytes / MIB / op,
            "output_bytes_per_input_byte": self.result_bytes / self.input_bytes,
        }

    def per_query(self) -> list[dict]:
        return [
            {
                "query": n,
                "module": QUERY_MODULES[n],
                "median_s": statistics.median(self.samples[n]),
                "samples_s": self.samples[n],
                "rows": self.rows.get(n),
            }
            for n in self.names
        ]

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for q in self.per_query():
            key = f"queries.{q['module']}_s"
            out[key] = out.get(key, 0.0) + q["median_s"]
        return out

    def input_desc(self) -> dict:
        return {
            "sf": self.sf,
            "queries": len(self.names),
            "input_mib": round(self.input_bytes / MIB, 3),
        }


class IngestQuery:
    """``warcit_ingest`` then ``query_surface`` in one session.

    A timed iteration is one ``warcit_run`` followed by one query pass;
    ``op_s`` is that iteration's wall, so a gain in either part moves it.
    ``items_per_s``, ``input_mib_per_s`` and
    ``output_bytes_per_input_byte`` are the ingest part's alone (files
    and input MiB per ``warcit_run`` second, WARC bytes per input byte).
    The two parts share a session because every run pays about 30 s of
    session start and cold first executions, which two separate
    workloads would pay twice.
    """

    op_span = "ingest_query.iteration"
    min_iters = 1

    def __init__(self, ingest: WarcitIngest, queries: QuerySurface):
        self.ingest, self.queries = ingest, queries
        self.tracer = ingest.tracer
        self.walls: list[float] = []

    def setup(self) -> None:
        self.ingest.setup()
        self.queries.setup()

    def warm_up(self) -> list[bool]:
        return self.ingest.warm_up() + self.queries.warm_up()

    def iterate(self) -> dict:
        with self.tracer.span(self.op_span):
            a = self.ingest.iterate()
            b = self.queries.iterate()
        ok = a["walls"] and b["walls"]
        out = {"walls": [sum(a["walls"]) + sum(b["walls"])] if ok else [], "parts": (a, b)}
        self.walls += out["walls"]
        return out

    def check(self, out: dict) -> list[bool]:
        a, b = out["parts"]
        return self.ingest.check(a) + self.queries.check(b)

    def probe(self, out: dict) -> None:
        a, b = out["parts"]
        self.ingest.probe(a)
        self.queries.probe(b)

    def end_to_end(self) -> dict[str, float]:
        return {**self.ingest.end_to_end(), "op_s": statistics.median(self.walls)}

    def per_layer(self) -> dict[str, float]:
        return {**self.ingest.per_layer(), **self.queries.per_layer()}

    def per_query(self) -> list[dict]:
        return self.queries.per_query()

    def input_desc(self) -> dict:
        return {"ingest": self.ingest.input_desc(), "queries": self.queries.input_desc()}


def crawl_ccweight(spark, seed, work, tracer, scale: float = 1.0) -> CrawlRound:
    return CrawlRound(
        spark, seed, work, tracer,
        n_pages=int(5_000 * scale), n_hosts=64, body_kb=8, extra_links=20,
        n_seeds=int(1_500 * scale), host_budget=max(1, int(48 * scale)),
        resume_round=1,
    )


def warcit_ingest(spark, seed, work, tracer, scale: float = 1.0) -> WarcitIngest:
    return WarcitIngest(spark, seed, work, tracer, n_dirs=max(2, int(10 * scale)))


def query_surface(spark, seed, work, tracer, scale: float = 1.0) -> QuerySurface:
    return QuerySurface(spark, seed, work, tracer, sf=0.01 * scale)


def ingest_query(spark, seed, work, tracer, scale: float = 1.0) -> IngestQuery:
    return IngestQuery(
        warcit_ingest(spark, seed, os.path.join(work, "ingest"), tracer, scale),
        query_surface(spark, seed, os.path.join(work, "queries"), tracer, scale),
    )


WORKLOADS = {"ingest_query": ingest_query, "crawl_ccweight": crawl_ccweight}
