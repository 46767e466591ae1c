"""Drift guard: replay a committed crawl round layer by layer.

After ``crawl_round`` commits round ``r``, the traced run rebuilds that
round from the same frontier delta, robots and pages using only the
layers' public functions and plain DataFrame joins, forcing (persist +
count) each layer so its time can be read alone.  The replay's counters
must equal the committed summary; if they do not, the replay no longer
describes the round it claims to time.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

RECONCILED = ("urls_emitted", "robots_denied", "links_found", "new_urls")


def _forced(df):
    """Persist and materialize ``df``; return (df, seconds, rows)."""
    df = df.persist()
    t0 = time.perf_counter()
    n = df.count()
    return df, time.perf_counter() - t0, n


def replay_round(spark, state, pages, robots, round_id: int, cfg) -> dict:
    """Replay one committed round; return its counters and layer seconds,
    plus ``mismatch``: the reconciled counters that differ from the
    committed summary (empty when the replay agrees)."""
    from warcit_spark.functions.urls import canonicalize_with_host_expr
    from warcit_spark.operators.links import hrefs_expr, resolve_hrefs
    from warcit_spark.operators.robots import apply_robots
    from warcit_spark.plans.politeness import politeness_prerank, politeness_rank
    from warcit_spark.plans.state import CrawlState

    held = []

    def forced(df):
        df, secs, n = _forced(df)
        held.append(df)
        return df, secs, n

    out = {"round": round_id}
    frontier, _, out["urls_in"] = forced(
        state.read_round_delta(spark, "frontier", round_id).select(
            "url", "host", "priority", "round_added"
        )
    )
    rules, out["robots_s"], _ = forced(apply_robots(frontier, robots))
    denied = rules.where(~F.col("allowed"))
    out["robots_denied"] = denied.count()
    pre, out["prerank_s"], _ = forced(
        politeness_prerank(rules, cfg.host_budget, n_salt=cfg.n_salt, allowed_col="allowed")
    )
    ranked, out["rank_s"], _ = forced(
        politeness_rank(pre.where(F.col("_pre_ok")), cfg.host_budget)
    )
    selected = ranked.where(F.col("selected"))
    out["urls_emitted"] = selected.count()
    deferred = (
        pre.where(F.col("allowed") & ~F.col("_pre_ok")).select("url")
        .unionByName(ranked.where(~F.col("selected")).select("url"))
    )

    linkable = F.col("url").endswith(".html") | ~F.col("url").rlike(r"\.[A-Za-z0-9]+$")
    fetched, _, out["linkable_pages"] = forced(
        selected.select("url", "priority")
        .join(pages.select("url", "warc_ts", "html"), "url", "left")
        .where(F.col("warc_ts").isNotNull() & linkable)
    )
    raw, out["extract_s"], out["raw_links"] = forced(
        resolve_hrefs(
            fetched.select("url", "priority", hrefs_expr(F.col("html")).alias("_hrefs")),
            carry=("priority",),
        )
    )
    distinct_raw = raw.groupBy("link").agg(F.count(F.lit(1)).alias("_n"))
    canon, out["canonicalize_s"], out["distinct_raw_links"] = forced(
        distinct_raw.select(
            canonicalize_with_host_expr(F.col("link")).alias("_cu"), "_n"
        ).select("_cu.url", "_cu.host", "_n")
    )
    valid = canon.where(F.col("host").isNotNull())
    out["links_found"] = int(valid.agg(F.sum("_n")).first()[0] or 0)

    seen_prev = state.read_table(spark, "seen", upto_round=round_id - 1)
    out["read_seen_s"] = 0.0
    known = selected.select("url").unionByName(denied.select("url")).unionByName(deferred)
    if seen_prev is not None:
        t0 = time.perf_counter()
        seen_prev.select("url").write.format("noop").mode("overwrite").save()
        out["read_seen_s"] = time.perf_counter() - t0
        known = known.unionByName(seen_prev.select("url"))
    out["new_urls"] = valid.select("url").distinct().join(known, "url", "left_anti").count()

    # the same seen delta the round wrote, into a scratch state
    scratch_root = state.root.rstrip("/") + "-replay"
    scratch = CrawlState(scratch_root, seen_buckets=state.seen_buckets)
    seen_delta = (
        selected.select("url", "host", F.lit("scheduled").alias("reason"))
        .unionByName(denied.select("url", "host", F.lit("robots").alias("reason")))
        .withColumn("round_seen", F.lit(round_id))
    )
    t0 = time.perf_counter()
    scratch.write_delta(seen_delta, "seen", round_id)
    out["write_delta_s"] = time.perf_counter() - t0
    shutil.rmtree(scratch_root, ignore_errors=True)

    for df in held:
        df.unpersist()
    committed = state.round_summary(round_id)
    out["mismatch"] = {
        k: (out[k], committed.get(k)) for k in RECONCILED if out[k] != committed.get(k)
    }
    return out
