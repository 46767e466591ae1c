"""Lookup joins J1-J2 (SURVEY.md §2.3) — broadcast joins with the
reference's match semantics.  J3, the transclusions equi-join
(converter.py:232-238), runs inline in plans/warcit_pipeline.py.

- J1 mapfile suffix-match join (warcit/warcit.py:332-342): probe each file
  against mapfile rows by ``filename.endswith(row['file'])``; the FIRST row
  (mapfile order) wins for a file; a mapfile row matching a SECOND file is a
  hard job failure (``sys.exit(1)`` in the reference).
- J2 conversions equi-join (converter.py:205-216): inner join on source
  url, keep only ``success`` rows (unsuccessful are warn+skip).

Physical shapes: J1 is an in-row first-match scan over an array literal of
the mapfile (zero shuffle; the mapfile side is small by construction — the
reference materializes it fully in RAM, warcit/warcit.py:303-304).  J2 is
a broadcast hash equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from warcit_spark.observe import observation_metrics, observation_ready


class MapfileUniquenessError(RuntimeError):
    """A mapfile row matched more than one file (warcit/warcit.py:335-337)."""


#: attribute set on the DataFrame returned by :func:`mapfile_suffix_join`
#: when the strict check rides the caller's action (literal path).
_STRICT_ATTR = "_mapfile_strict_check"


# Above this many mapfile rows the array-literal plan would bloat Catalyst /
# codegen (tens of thousands of struct literals); fall back to a broadcast
# theta join + first-match aggregation instead.
MAPFILE_LITERAL_MAX_ROWS = 10_000

#: Sentinel strict-check payload meaning "uniqueness was already verified
#: eagerly (broadcast-fallback / empty-mapfile paths) — nothing deferred".
#: Lets pipeline callers distinguish "check handled" from "deferred payload
#: silently lost" (a bare None): ``verify_mapfile_uniqueness`` treats it as
#: a no-op, and ``warcit_run`` asserts the payload is non-None whenever a
#: mapfile was supplied.
STRICT_CHECKED = "mapfile-strict-already-checked"


def mapfile_suffix_join(
    files: DataFrame,
    mapfile: DataFrame,
    filename_col: str = "filename",
    strict: bool = True,
) -> DataFrame:
    """J1: left suffix-lookup of files against the mapfile, first match
    (mapfile order) wins.

    Output: ``files.*`` plus ``map_url``, ``map_timestamp``, ``map_ct``
    (NULL when unmatched).  ``strict`` enforces the reference's
    row-uniqueness constraint — a mapfile row matching a second file fails
    the job (warcit/warcit.py:335-337).

    Physical shape: the mapfile is driver-RAM-small by construction (the
    reference loads it fully, warcit.py:303-304), so the lookup is an
    in-row scan of an array literal — ``filter``/``element_at`` inside
    whole-stage codegen, ZERO shuffle of the files relation (the previous
    formulation's first-match window repartitioned every file by name).
    Above ``MAPFILE_LITERAL_MAX_ROWS`` the literal plan would bloat
    Catalyst/codegen, so a broadcast endswith-join + per-filename ``min_by``
    first-match aggregation takes over (keyed on the filename itself, so it
    is deterministic for ANY input lineage — no row ids).  An empty mapfile
    short-circuits to NULL map_* columns (the literal formulation would
    produce an ``array<void>`` whose field extraction fails analysis).

    Strictness is ZERO extra jobs on the literal path: the returned frame
    carries an ``observe()`` metric pair (matched-row count vs an exact
    bitmap distinct count of matched mapfile indices — exact because the
    literal path bounds idx <= MAPFILE_LITERAL_MAX_ROWS, one bitmap
    bucket).  The check fires inside the caller's own action; call
    :func:`verify_mapfile_uniqueness` on the result (or any descendant
    action's source) afterwards to raise ``MapfileUniquenessError``.  The
    broadcast fallback path keeps the eager one-extra-job check (mapfile
    indices are unbounded there, so the single-bucket bitmap trick does
    not apply).
    """
    cols = mapfile.columns
    rows = mapfile.withColumn("_i", F.monotonically_increasing_id()).orderBy(
        "_i"
    ).limit(MAPFILE_LITERAL_MAX_ROWS + 1).collect()

    if not rows:
        null_s = F.lit(None).cast("string")
        out = files.select(
            "*",
            null_s.alias("map_url"),
            null_s.alias("map_timestamp"),
            null_s.alias("map_ct"),
        )
        if strict:
            setattr(out, _STRICT_ATTR, STRICT_CHECKED)  # vacuously unique
        return out

    fname = F.col(filename_col)

    if len(rows) > MAPFILE_LITERAL_MAX_ROWS:
        out = _mapfile_broadcast_join(files, mapfile, cols, fname, filename_col)
        if strict:
            _eager_uniqueness_check(out)
        out = out.drop("_mf_idx", "_mf_file")
        if strict:
            setattr(out, _STRICT_ATTR, STRICT_CHECKED)
        return out
    else:
        entries = F.array(
            *[
                F.struct(
                    F.lit(i).alias("idx"),
                    F.lit(r["file"]).alias("file"),
                    F.lit(r["URL"] if "URL" in cols else None).cast("string").alias("url"),
                    F.lit(r["timestamp"] if "timestamp" in cols else None).cast("string").alias("ts"),
                    F.lit(r["Content-Type"] if "Content-Type" in cols else None).cast("string").alias("ct"),
                )
                for i, r in enumerate(rows)
            ]
        )
        # try_element_at: NULL on no match (ANSI element_at throws on empty)
        first = F.try_element_at(
            F.filter(entries, lambda e: fname.endswith(e["file"])), F.lit(1)
        )
        out = files.select(
            "*",
            first["url"].alias("map_url"),
            first["ts"].alias("map_timestamp"),
            first["ct"].alias("map_ct"),
            first["idx"].alias("_mf_idx"),
            first["file"].alias("_mf_file"),
        )

    if strict:
        # zero-extra-job strict check: ride the caller's own action.
        # count(_mf_idx) vs an EXACT bitmap distinct count — exact because
        # the literal path guarantees idx+1 in [1, MAPFILE_LITERAL_MAX_ROWS+1],
        # a single 32768-position bitmap bucket.  observe() is a pushdown
        # barrier, so downstream filters/unions never skew the metrics.
        obs = Observation("mapfile_strict")
        observed = out.observe(
            obs,
            F.count("_mf_idx").alias("matches"),
            F.bitmap_count(
                F.bitmap_construct_agg(F.bitmap_bit_position(F.col("_mf_idx") + 1))
            ).alias("distinct_rows"),
        )
        result = observed.drop("_mf_idx", "_mf_file")
        setattr(result, _STRICT_ATTR, (obs, observed))
        return result

    return out.drop("_mf_idx", "_mf_file")


def strict_check_of(df: DataFrame):
    """The deferred strict-check payload riding ``df`` (or None).

    The payload is a plain Python attribute on the returned DataFrame
    object, so it does NOT survive further transformations — capture it
    right after :func:`mapfile_suffix_join` when composing a pipeline.
    """
    return getattr(df, _STRICT_ATTR, None)


def verify_mapfile_uniqueness(check, run_action_if_needed: bool = True) -> None:
    """Raise :class:`MapfileUniquenessError` if the deferred strict check
    recorded a mapfile row matched by more than one file.

    ``check`` is the payload from :func:`strict_check_of` (None is a
    no-op — unmapped pipeline, empty mapfile, or the broadcast fallback
    path which checks eagerly).  Call AFTER the action that consumed the
    joined frame; if no action ran yet and ``run_action_if_needed``, a
    column-pruned noop scan computes the metrics (filename column only —
    file content is never read).  The duplicate listing in the error
    message comes from a diagnostic job that only runs on the failure path.
    """
    if check is None or check is STRICT_CHECKED:
        return
    obs, observed = check
    if not observation_ready(obs) and run_action_if_needed:
        observed.select("_mf_idx").write.format("noop").mode("overwrite").save()
    try:
        metrics = observation_metrics(obs, "matches", "distinct_rows")
    except RuntimeError:
        # metrics row came back empty (observed node referenced more than
        # once in the executed plan, or an AQE merge dropped it — the case
        # observe.py documents).  The WARC write already succeeded at this
        # point, so don't surface an opaque error: recompute the check
        # exactly with one filename-only job, mirroring the
        # ngram_dfcap_excluded recovery path.
        _eager_uniqueness_check(observed)
        return
    if metrics["matches"] > (metrics["distinct_rows"] or 0):
        # The additive count('_mf_idx') re-accumulates every time the
        # observed subtree executes (repartitionByRange's range-sampling
        # pass, AQE stage retries) while the bitmap distinct merges
        # idempotently — so a mismatch is only a TRIGGER for the exact
        # recheck, never proof of duplicates.  _eager_uniqueness_check
        # runs the same diagnostic query the old failure path ran and
        # raises (with the duplicate listing) iff real dupes exist.
        _eager_uniqueness_check(observed)


def _eager_uniqueness_check(out: DataFrame) -> None:
    """Broadcast-fallback strict check (one extra job; >10k-row mapfiles
    only — the bitmap observe trick needs the literal path's bounded idx)."""
    dupes = (
        out.where(F.col("_mf_idx").isNotNull())
        .groupBy("_mf_idx", "_mf_file")
        .count()
        .where(F.col("count") > 1)
        .collect()
    )
    if dupes:
        raise MapfileUniquenessError(
            "mapfile rows matched multiple files: "
            + ", ".join(f"{r['_mf_file']} (x{r['count']})" for r in dupes)
        )


def _mapfile_broadcast_join(
    files: DataFrame, mapfile: DataFrame, cols: list, fname, filename_col: str
) -> DataFrame:
    """Large-mapfile fallback: broadcast endswith theta join keyed on the
    DISTINCT FILENAMES, first match (lowest mapfile row index) per name via
    ``min_by``, joined back to the files relation by filename.

    Keying on filename (row content) instead of a generated row id makes
    the two plan branches deterministic for ANY files lineage — a
    post-shuffle/derived input can no longer mis-assign metadata the way a
    twice-evaluated ``monotonically_increasing_id`` could.  The mapfile
    side still derives its row index from scan order, which is the
    definition of "mapfile order" (the reference reads the CSV top to
    bottom, warcit/warcit.py:303-304) and is deterministic for a file
    scan.  File columns (e.g. binary content) never enter the match
    shuffle — only filenames travel; the join-back is a plain equi-join
    Catalyst/AQE can broadcast when the matched-name set is small.
    """
    null_s = F.lit(None).cast("string")
    mf = mapfile.withColumn("_i", F.monotonically_increasing_id()).select(
        F.col("_i"),
        F.col("file").alias("_mf_pat"),
        (F.col("URL") if "URL" in cols else null_s).cast("string").alias("_mf_url"),
        (F.col("timestamp") if "timestamp" in cols else null_s).cast("string").alias("_mf_ts"),
        (F.col("Content-Type") if "Content-Type" in cols else null_s).cast("string").alias("_mf_ct"),
    )
    file_cols = files.columns
    matches = (
        files.select(fname.alias("_fname"))
        .distinct()
        .join(F.broadcast(mf), F.col("_fname").endswith(F.col("_mf_pat")), "inner")
        .groupBy("_fname")
        .agg(
            F.min_by(
                F.struct(
                    F.col("_mf_url").alias("url"),
                    F.col("_mf_ts").alias("ts"),
                    F.col("_mf_ct").alias("ct"),
                    F.col("_i").alias("idx"),
                    F.col("_mf_pat").alias("file"),
                ),
                F.col("_i"),
            ).alias("_first")
        )
    )
    out = files.join(matches, fname == F.col("_fname"), how="left")
    return out.select(
        *file_cols,
        F.col("_first.url").alias("map_url"),
        F.col("_first.ts").alias("map_timestamp"),
        F.col("_first.ct").alias("map_ct"),
        F.col("_first.idx").alias("_mf_idx"),
        F.col("_first.file").alias("_mf_file"),
    )


def conversions_join(records: DataFrame, conversions: DataFrame) -> DataFrame:
    """J2: per source url, successful conversion results (broadcast inner
    equi-join; ``success=false`` rows are skipped, converter.py:209-211)."""
    conv = conversions.where(F.col("success"))
    return records.join(
        F.broadcast(conv.withColumnRenamed("source_url", "url")), on="url", how="inner"
    )
