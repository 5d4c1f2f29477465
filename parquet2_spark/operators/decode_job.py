"""Decode / stats queries over an encoded snapshot.

Read-path parity with the reference (SURVEY §3.1/§3.3): the reference
reads a file's footer once, prunes row groups on their statistics
(``filter_row_groups``, reference src/read/mod.rs:32-45) and only then
iterates the surviving chunks' pages. ``decode`` does the same per chunk
file, in one Spark job: the driver lists each snapshot's chunk files
once, and one ``mapInArrow`` decoder opens each listed file once, tests
its metadata rows (zone maps, null counts, blooms), and reads, page-
prunes (≙ IndexedPageReader) and decodes the payload of a survivor from
the same open file. The metadata queries (``stats``, ``quantiles``,
``row_range``'s prefix sums, the compaction plans and lineage) read the
same listing through the same reader: ``chunks_frame`` opens each listed
file once in a ``mapInArrow`` task and reads only the metadata fields its
caller names, never the payload, and Spark aggregates the rows. No query
runs a Spark parquet scan of chunk files, so every read goes through
one filesystem (``fsio.resolve`` or ``filesystem=``).
"""

from __future__ import annotations

import functools
import json
import operator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import blob, fsio
from . import snapshot

# Lineage stores df.dtypes simpleStrings, which are valid Spark DDL for
# the whole type lattice ("bigint", "array<string>", "struct<a:int>",
# "map<string,bigint>", "decimal(12,2)") — they pass straight through to
# applyInArrow output schemas and .cast(); pyarrow expectations are
# derived driver-side in decode() (DDL → StructType → schema.spark_type_to_pa,
# with struct-field pruning for dotted projections).


def lineage(
    snapshot_dir: str, as_of: int | None = None, filesystem=None, since: int | None = None,
    _snaps: list | None = None,
) -> dict:
    """Lineage of a snapshot dir — or the merged lineage of a multi-
    snapshot table dir (see operators.table). ``_snaps`` (internal): the
    table's ``(sid, dir)`` list, already read from its manifest."""
    from . import table as table_mod

    if _snaps is not None or table_mod.is_table(snapshot_dir, filesystem):
        merged: dict = {"table": snapshot_dir, "snapshots": [], "rows": 0,
                        "raw_bytes": 0, "enc_bytes": 0, "per_column": {}}
        if _snaps is None:
            _snaps = table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem, since)
        for sid, sdir in _snaps:
            lin = lineage(sdir, filesystem=filesystem)
            merged["snapshots"].append({"id": sid, "dir": sdir, "rows": lin["rows"]})
            merged["rows"] += lin["rows"]
            merged["raw_bytes"] += lin["raw_bytes"]
            merged["enc_bytes"] += lin["enc_bytes"]
            # additive schema evolution: later snapshots may ADD columns
            # (append() rejects drops/retypes) — merge preserves first-seen
            # order and appends the new columns; older snapshots read NULL
            merged.setdefault("schema", {}).update(lin["schema"])
            cols_so_far = merged.setdefault("columns", [])
            for c in lin["columns"]:
                if c not in cols_so_far:
                    cols_so_far.append(c)
            for c, v in lin["per_column"].items():
                agg = merged["per_column"].setdefault(
                    c, {"raw_bytes": 0, "enc_bytes": 0, "n_rows": 0, "codecs": []}
                )
                agg["raw_bytes"] += v["raw_bytes"]
                agg["enc_bytes"] += v["enc_bytes"]
                agg["n_rows"] += v["n_rows"]
                agg["codecs"] = sorted(set(agg["codecs"]) | set(v["codecs"]))
        return merged
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    return fsio.read_json(fs, fsio.join(root, "_lineage.json"))


# row_range prefix sums reduce per group of this many consecutive part
# ids before the driver sees anything: #partitions/_RR_GROUP scalars to
# the driver (≤ ~256 rows even at 10^6 partitions), and the within-group
# window parallelizes across groups instead of one global-order task
_RR_GROUP = 4096

def _page_keep_for_range(mins: list, maxs: list, lo, hi, order: str | None) -> set:
    """Page indexes whose [min,max] may intersect [lo,hi] (None bound =
    open side). When the chunk's zone maps are boundary-ordered
    ('asc'/'desc' from the encoder, the ColumnIndex boundary_order
    analog — reference/src/write/indexes/serialize.rs:12-58) and fully
    populated, the surviving pages form one contiguous run found by
    binary search; otherwise a linear scan with the standard
    no-stat/inverted-keep rules. Both paths return identical sets
    (asserted in tests)."""
    n = len(mins)
    as_str = isinstance(lo, str) or isinstance(hi, str)
    if (
        order in ("asc", "desc")
        and n > 1
        and all(m is not None for m in mins)
        and all(m is not None for m in maxs)
        # a string bound against NUMERIC stats would bisect a str()-
        # converted list whose lexicographic order no longer matches the
        # recorded numeric boundary order ([2,10,100] → ["10","100","2"])
        # — only the linear per-page compare is safe there
        and (not as_str or isinstance(mins[0], str))
    ):
        import bisect

        m_min, m_max = (mins, maxs) if order == "asc" else (mins[::-1], maxs[::-1])
        if as_str:
            m_min = [str(v) for v in m_min]
            m_max = [str(v) for v in m_max]
        # first page whose max >= lo, one past the last whose min <= hi
        first = 0 if lo is None else bisect.bisect_left(m_max, lo)
        last = n if hi is None else bisect.bisect_right(m_min, hi)
        if order == "desc":
            first, last = n - last, n - first
        return set(range(first, max(first, last)))
    keep = set()
    for i, (mn, mx) in enumerate(zip(mins, maxs)):
        if mn is None or mx is None:
            keep.add(i)  # no stats → cannot prune
            continue
        if as_str:
            mn, mx = str(mn), str(mx)
        elif mn > mx:
            keep.add(i)  # inverted (pre-NaN-fix all-NaN page) → no-stat
            continue
        if (hi is None or mn <= hi) and (lo is None or mx >= lo):
            keep.add(i)
    return keep


# The partition reader shared by decode and the fused compaction
# (merge_compact.encode_fused): one chunk-table group in, page-pruned,
# decoded, schema-filled and typed columns out.

# the chunk-file fields the partition reader uses
_PART_FIELDS = [
    "column", "payload", "page_mins", "page_maxs", "page_rows", "bounds_order", "page_nulls",
]


def _page_space(v):
    """Range bound → page zone-map (``encode_job._jstat``) space:
    datetime/date → micros/days, bytes → utf-8 text. Valid utf-8 compares
    identically as text (code-point order == byte order); bytes that are
    NOT valid utf-8 (a prefix cut mid-codepoint) have no order-faithful
    text form, so that side of the range is left open (None) rather than
    risk skipping a page that holds matching rows."""
    v = _zone_bound(v)
    if isinstance(v, (bytes, bytearray)):
        try:
            return bytes(v).decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, np.integer):
        return int(v)
    return v


def _text_stats(raw: str) -> list:
    """A page min/max list from the chunk table. A text stat holding
    U+FFFD is read as missing: older encoders stored bytes that are not
    valid utf-8 with the replacement character, whose order says nothing
    about the bytes' order."""
    return [
        None if isinstance(v, str) and "\ufffd" in v else v for v in json.loads(raw)
    ]


def _page_keep(tbl: pa.Table, ranges: list, not_null: list, is_null: list) -> set | None:
    """Page indexes of one partition that may hold rows matching every
    predicate — the select_pages analog over the chunk table's page zone
    maps and null index. ``ranges`` are ``(column, lo, hi)`` (None = open
    side); ``not_null`` skips all-null pages, ``is_null`` null-free ones.
    A predicate column absent from the partition (an older snapshot), or
    without page stats, prunes nothing. None when every page survives.
    Pages are row-aligned across a partition's columns, so one keep-set
    serves every column."""
    names = tbl.column("column").to_pylist()
    row_of = {name: i for i, name in enumerate(names)}
    keep = None
    for col, lo, hi in ranges:
        i = row_of.get(col)
        if i is None:
            continue
        k = _page_keep_for_range(
            _text_stats(tbl.column("page_mins")[i].as_py()),
            _text_stats(tbl.column("page_maxs")[i].as_py()),
            _page_space(lo),
            _page_space(hi),
            tbl.column("bounds_order")[i].as_py(),
        )
        keep = k if keep is None else keep & k
    for col in (*not_null, *is_null):
        i = row_of.get(col)
        pn_raw = None if i is None else tbl.column("page_nulls")[i].as_py()
        if pn_raw is None:
            continue
        pn = json.loads(pn_raw)
        if col in not_null:
            pr = json.loads(tbl.column("page_rows")[i].as_py())
            k = {j for j, (nulls, rows) in enumerate(zip(pn, pr)) if nulls < rows}
        else:
            k = {j for j, nulls in enumerate(pn) if nulls > 0}
        keep = k if keep is None else keep & k
    if keep is None:
        return None
    n_pages = len(json.loads(tbl.column("page_rows")[0].as_py()))
    return None if keep >= set(range(n_pages)) else keep


def _decode_part(
    tbl: pa.Table,
    columns: list[str],
    expected_pa: dict,
    keep: set | None = None,
    field_sel: dict | None = None,
    row_span: tuple | None = None,
    n_rows: int = 0,
) -> pa.Table | None:
    """Decode one partition's chunk rows into a table of ``columns``
    typed as ``expected_pa``. ``keep`` (from ``_page_keep``) decodes only
    those pages, ``row_span=(start, stop)`` only those rows (the page
    offset index picks the pages; it takes precedence over ``keep``),
    ``field_sel`` prunes struct fields per column. A column the partition
    lacks (added by a later snapshot) reads as all-null; when it lacks
    every one of ``columns``, the table has ``n_rows`` rows of nulls.
    None when every page is pruned."""
    payload_of = dict(
        zip(tbl.column("column").to_pylist(), tbl.column("payload").to_pylist())
    )
    arrays = {}
    for c in columns:
        p = payload_of.get(c)
        if p is None:
            continue
        ff = (field_sel or {}).get(c)
        if row_span is not None:
            arrays[c] = blob.decode_chunk_rows(
                p, row_span[0], row_span[1] - row_span[0], field_filter=ff,
                combine=False,
            )
        elif keep is None:
            arrays[c] = blob.decode_chunk(p, field_filter=ff, combine=False)
        else:
            parts = [
                a
                for _, a in blob.iter_chunk_pages(
                    p, page_filter=lambda i, fr: i in keep, field_filter=ff
                )
                if a is not None
            ]
            if not parts:
                return None
            arrays[c] = blob.chunk_pages(parts)
    n = len(next(iter(arrays.values()))) if arrays else n_rows
    cols = []
    for c in columns:
        a = arrays.get(c)
        if a is None:
            a = pa.nulls(n, expected_pa[c])
        elif len(a) != n:
            raise ValueError(f"column {c} row mismatch {len(a)} != {n}")
        elif not a.type.equals(expected_pa[c]):
            # recursive, storage-preserving: naive→tz-aware timestamps
            # (assumed UTC, matching blob's epoch-micros storage),
            # large_string→string, nested children included
            a = a.cast(expected_pa[c])
        # pages stay CHUNKED end-to-end: pa.table accepts per-column chunk
        # layouts and the Arrow IPC exchange back to Spark slices record
        # batches at chunk boundaries zero-copy
        cols.append(a)
    return pa.table(dict(zip(columns, cols)))


def chunks_df(
    spark: SparkSession,
    snapshot_dir: str,
    as_of: int | None = None,
    since: int | None = None,
    filesystem=None,
    fields: list[str] | None = None,
) -> DataFrame:
    """The chunks table's metadata rows (``chunks_frame``) over the chunk
    files of a snapshot dir, or of every committed snapshot of a table
    dir in ``(since, as_of]``: ``part_id`` plus ``fields`` (every field
    but ``payload`` by default). An empty ``since`` window gives a typed
    zero-row frame; a table with no committed snapshot, or a torn
    snapshot, raises."""
    from . import table as table_mod

    snaps = None
    if table_mod.is_table(snapshot_dir, filesystem):
        snaps = table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem, since)
        if not snaps and since is None:
            raise FileNotFoundError(f"table {snapshot_dir} has no committed snapshots")
    listing = check_integrity(snapshot_dir, filesystem=filesystem, _snaps=snaps)
    return chunks_frame(spark, listing, fields, filesystem)


def stats(spark: SparkSession, snapshot_dir: str, filesystem=None) -> DataFrame:
    """Per (column, codec) aggregate — the `parquet-tools meta` analog."""
    df = chunks_df(
        spark, snapshot_dir, filesystem=filesystem,
        fields=["column", "codecs", "n_rows", "null_count", "raw_bytes", "enc_bytes",
                "min_num", "max_num", "min_bin", "max_bin", "min_dbl", "max_dbl", "ndv",
                "ndv_hll"],
    )
    aggs = [
        F.count("*").alias("n_chunks"),
        F.sum("n_rows").alias("rows"),
        F.sum("null_count").alias("nulls"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.min("min_bin").alias("min_bin"),
        F.max("max_bin").alias("max_bin"),
        F.min("min_dbl").alias("min_dbl"),
        F.max("max_dbl").alias("max_dbl"),
        F.max("ndv").alias("ndv_hint"),
    ]
    out = df.groupBy("column", "codecs").agg(*aggs)
    # table-level NDV from the per-chunk HLL register files, fused
    # into TWO pandas stages over one extra scan (was: premerge +
    # grouped-agg UDAF + estimate UDF + a separate coverage groupBy +
    # two joins). Stage 1 (mapInPandas) emits one partial row per
    # column per Arrow batch — a million-chunk column never ships a
    # million 64 KB sketches to one task — carrying both the merged
    # sketch and the coverage-miss flag (a non-empty chunk without a
    # sketch means the merge cannot see the whole column, so the
    # estimate must be withheld rather than silently undercount).
    # Stage 2 (applyInPandas, keyed by column ONLY — NDV is a
    # table-level property; chunks that picked different codecs still
    # merge) folds partials straight to the final estimate.
    from ..plans import hll as hll_mod

    def premerge(pdfs):
        import pandas as pd

        for pdf in pdfs:
            rows = []
            for col, g in pdf.groupby("column"):
                miss = bool(((g["n_rows"] > 0) & g["ndv_hll"].isna()).any())
                sk = None if miss else hll_mod.merge(g["ndv_hll"])
                rows.append((col, sk, miss))
            yield pd.DataFrame(rows, columns=["column", "ndv_hll", "miss"])

    def final(pdf):
        import pandas as pd

        sk = None if pdf["miss"].any() else hll_mod.merge(pdf["ndv_hll"])
        est = None if sk is None else hll_mod.estimate(sk)
        return pd.DataFrame(
            {
                "column": [pdf["column"].iloc[0]],
                "ndv_est": pd.array([est], dtype="Int64"),
            }
        )

    # two-stage merge UNCONDITIONALLY (r6): the per-batch premerge
    # reduces each scan task's sketches to one partial row per
    # column BEFORE the exchange, so the shuffle carries
    # #tasks × #columns small rows instead of #chunks × 64 KB dense
    # sketches. Round 5 gated this behind a 2000-chunk threshold
    # ("premerge is pure overhead for small tables") — re-measured
    # at 118 chunks the premerge path is FASTER (0.9-1.4 s vs
    # 1.3-3.5 s best-of-3: the 40 MB sketch shuffle cost more than
    # the extra map stage saves), and at a million chunks it is the
    # only shape that bounds what any single task receives.
    partials = df.select("column", "n_rows", "ndv_hll").mapInPandas(
        premerge, "column string, ndv_hll binary, miss boolean"
    )
    # hash-partition the (few, small) partial rows by column so
    # the applyInPandas sees its clustering requirement already
    # met — an 8-task exchange instead of
    # spark.sql.shuffle.partitions mostly-empty ones
    sk = (
        partials.repartition(8, "column")
        .groupBy("column")
        .applyInPandas(final, "column string, ndv_est long")
    )
    out = out.join(F.broadcast(sk), ["column"], "left")
    return out.orderBy("column", "codecs")


def quantiles(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    qs: list[float],
    filesystem=None,
    as_of: int | None = None,
    since: int | None = None,
) -> list[float]:
    """Table-level quantile estimates for a numeric/temporal column from
    the per-chunk quantile grids (zone-map units: micros for timestamps,
    days for dates) — no data scan, metadata only. Rank error ≤ N/K + m/2
    values over m chunks (K=128 cells/chunk: ≤0.8% + ½ value per chunk);
    see plans/quantile.py.

    Scale shape mirrors the HLL NDV merge: small tables (≤2000 chunks by
    lineage metadata) collect their ~1 KB grids directly; larger ones run
    a per-batch mapInPandas partial merge so the driver receives one
    bounded summary per scan partition, never a million grids.
    Raises when any non-empty chunk lacks a grid (pre-grid snapshot or
    grids disabled for one append) — a partial merge would silently skew
    the ranks."""
    from ..plans import quantile as q_mod

    grids, weights = _gather_grids(
        spark, snapshot_dir, column, filesystem, as_of, since
    )
    return q_mod.estimate(grids, weights, qs)


def _gather_grids(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    filesystem=None,
    as_of: int | None = None,
    since: int | None = None,
) -> tuple[list, list | None]:
    """(grids, weights) ready for ``plans.quantile`` rank algebra —
    the shared gather behind ``quantiles`` and ``bucket_weights``:
    self-weighted dict grids on the small-table collect path, bounded
    per-scan-partition summaries plus totals on the distributed path."""
    from ..plans import quantile as q_mod

    ddl = lineage(snapshot_dir, filesystem=filesystem)["schema"].get(column)
    if ddl is None:
        raise KeyError(f"column {column} not in snapshot schema")
    numericish = (
        ddl in ("tinyint", "smallint", "int", "bigint", "float", "double", "date")
        or ddl.startswith("timestamp")
    )
    # string/binary columns carry BYTE grids — order statistics over
    # truncated byte prefixes (plans/quantile.py BYTES_PREFIX), the
    # ByteIndex-style sketch that lets range layout key on url/host;
    # estimates come back as `bytes` prefixes
    bytesish = (
        ddl in ("string", "binary")
        or ddl.startswith("varchar")
        or ddl.startswith("char")
    )
    if not (numericish or bytesish):
        raise ValueError(
            f"column {column} ({ddl}) carries no quantile grids "
            f"(numeric/temporal/string/binary columns only)"
        )
    # as_of/since window over multi-snapshot tables: quantiles of the
    # table as of a snapshot, or of an incremental delta only — the
    # planner's view matches exactly what decode(as_of=/since=) reads
    df = chunks_df(
        spark, snapshot_dir, as_of, since, filesystem,
        fields=["column", "qgrid", "n_rows", "null_count"],
    ).filter(F.col("column") == column)
    sel = df.select(
        "qgrid", (F.col("n_rows") - F.coalesce(F.col("null_count"), F.lit(0))).alias("w")
    )
    n_committed = _committed_partition_count(snapshot_dir, filesystem)
    if n_committed is not None and 0 < n_committed <= 2000:
        rows = sel.collect()
        grids = []
        for r in rows:
            if r["w"] and r["qgrid"] is None:
                raise ValueError(
                    f"column {column}: chunk without a quantile grid — "
                    f"re-encode with quantile_grid=True for exact coverage"
                )
            if r["qgrid"] is not None:
                grids.append(json.loads(r["qgrid"]))
        return grids, None

    def partial(pdfs):
        for pdf in pdfs:
            miss = bool((pdf["qgrid"].isna() & (pdf["w"] > 0)).any())
            if miss:
                yield pd.DataFrame(
                    {"summary": [None], "total": [0], "miss": [True]}
                )
                continue
            grids = [json.loads(g) for g in pdf["qgrid"] if g is not None]
            g, total = q_mod.merge_to_summary(grids)
            yield pd.DataFrame(
                {"summary": [json.dumps(g)], "total": [total], "miss": [False]}
            )

    parts = sel.mapInPandas(partial, "summary string, total long, miss boolean").collect()
    if any(r["miss"] for r in parts):
        raise ValueError(
            f"column {column}: chunk without a quantile grid — re-encode "
            f"with quantile_grid=True for exact coverage"
        )
    grids = [json.loads(r["summary"]) for r in parts if r["total"]]
    weights = [int(r["total"]) for r in parts if r["total"]]
    return grids, weights


def bucket_weights(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    bounds: list,
    filesystem=None,
) -> list[float]:
    """Predicted relative row mass of each bucket under split points
    ``bounds`` (zone-map units; ``bytes`` for string/binary keys) —
    ``len(bounds) + 1`` fractions summing to ~1, from the table's
    quantile grids alone (no data scan). This is how sticky layout
    bounds are AUDITED before reuse: a hot bucket that absorbed skewed
    deltas shows up as a fraction far above 1/n_buckets, and the caller
    re-derives fresh bounds instead of letting one bucket grow to
    many × target_rows (operators/table._resolve_layout_bounds)."""
    from ..plans import quantile as q_mod

    grids, weights = _gather_grids(spark, snapshot_dir, column, filesystem)
    cs = q_mod.cdf(grids, weights, list(bounds))
    edges = [0.0] + [float(c) for c in cs] + [1.0]
    return [max(0.0, b - a) for a, b in zip(edges, edges[1:])]


def range_bounds(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    n_parts: int,
    filesystem=None,
) -> list[float]:
    """``n_parts - 1`` range split points for ``repartitionByRange``-style
    layout of the NEXT append, derived from the table's quantile grids —
    the 100 TB alternative to Spark's RangePartitioner sampling scan
    (which would read the new batch twice). Combine with
    ``EncodeConfig(shuffle=False)`` after a ``repartitionByRange`` on
    these bounds for disjoint per-partition zone maps."""
    if n_parts < 2:
        return []
    qs = [i / n_parts for i in range(1, n_parts)]
    return quantiles(spark, snapshot_dir, column, qs, filesystem)


def _committed_partition_count(snapshot_dir: str, filesystem=None) -> int | None:
    """Total committed partitions across the snapshot dir (or all of a
    table's snapshots) from lineage metadata only — None when any
    lineage predates the field or is unreadable."""
    from . import table as table_mod

    try:
        if table_mod.is_table(snapshot_dir, filesystem):
            total = 0
            for _, sdir in table_mod.snapshot_dirs(snapshot_dir, filesystem=filesystem):
                n = lineage(sdir, filesystem=filesystem).get("n_partitions_committed")
                if n is None:
                    return None
                total += int(n)
            return total
        n = lineage(snapshot_dir, filesystem=filesystem).get("n_partitions_committed")
        return None if n is None else int(n)
    except Exception:
        return None


def _zone_bound(v):
    """Normalize a value to the zone map's storage unit: datetime →
    micros, date → days-since-epoch; everything else passes through. The
    one copy of the conversion: range bounds here, and the chunk and page
    zone maps the encoder writes (``encode_job._stat_cols``/``_jstat``).

    tz-aware datetimes convert via ``astimezone(utc)`` + exact timedelta
    integer division — NOT ``datetime(1970,1,1, tzinfo=v.tzinfo)``, whose
    epoch under pytz zones carries an LMT offset that skews the micros by
    minutes (false pruning at range boundaries)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return v


def _wall_str(micros: int) -> str:
    """Wall-clock string for epoch micros (shared by the scalar ntz
    literal and the ntz probe frame — one copy of the formatting)."""
    import datetime as _dt

    wall = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(micros))
    return wall.strftime("%Y-%m-%d %H:%M:%S.%f")


def _ntz_lit(micros: int):
    """timestamp_ntz literal from wall-clock micros — a string→ntz cast
    never consults the session timezone (``timestamp_micros`` would yield
    a tz-typed literal whose comparison against an ntz column silently
    coerces through the session tz)."""
    return F.lit(_wall_str(micros)).cast("timestamp_ntz")


def _typed_lit(v, ddl: str):
    """Session-timezone-safe Spark literal for a probe/bound value against
    a column of type ``ddl``. Naive datetimes are UTC instants everywhere
    in this engine (the blob stores UTC-epoch micros and encode-time bloom
    hashes are computed on those instants) — but ``F.lit(naive_datetime)``
    is read in the *session* timezone, so in a non-UTC session a bloom
    probe would hash the wrong micros and prune the matching partition.
    Route every datetime/date through its epoch integer instead; against a
    ``timestamp_ntz`` column the micros mean wall-clock and the literal
    must itself be ntz-typed (see ``_ntz_lit``)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if ddl == "timestamp_ntz":
            return _ntz_lit(_zone_bound(v))
        return F.timestamp_micros(F.lit(_zone_bound(v))).cast(ddl)
    if isinstance(v, _dt.date):
        return F.date_from_unix_date(F.lit(_zone_bound(v))).cast(ddl)
    if isinstance(v, int) and not isinstance(v, bool) and (
        ddl.startswith("timestamp") or ddl == "date"
    ):
        # plain ints against temporal columns mean epoch MICROS (days for
        # date) — the zone-map storage unit, same convention as _bound,
        # _probe_frame and the CLI. Without this branch the F.lit(int)
        # .cast('timestamp') fallback would read SECONDS (or null on
        # overflow), so key_eq=('ts', epoch_micros) would bloom-hash the
        # wrong instant and silently return empty while key_in matched.
        if ddl == "date":
            return F.date_from_unix_date(F.lit(int(v)).cast("int"))
        if ddl == "timestamp_ntz":
            return _ntz_lit(int(v))
        return F.timestamp_micros(F.lit(int(v))).cast(ddl)
    return F.lit(v).cast(ddl)


def _residual_lit(v, ddl: str):
    """The literal a residual row filter compares a column of type ``ddl``
    with: datetimes and dates, and ints against temporal columns (epoch
    micros/days, the zone-map units), take the session-tz-safe
    ``_typed_lit``; any other value stays a plain literal, so Spark
    compares in the wider type and a float probe on an integer column is
    never truncated (``1.5`` matches no int)."""
    import datetime as _dt

    temporal = ddl.startswith("timestamp") or ddl == "date"
    if isinstance(v, (_dt.date, _dt.datetime)) or (
        temporal and isinstance(v, int) and not isinstance(v, bool)
    ):
        return _typed_lit(v, ddl)
    return F.lit(v)


def _local(spark: SparkSession, vals: list, ddl: str) -> DataFrame:
    """One-column frame ``m`` of ``vals`` typed as ``ddl``, over a local
    Arrow relation: collecting it, or a projection of it, runs on the
    driver and starts no Spark job."""
    return spark.createDataFrame(pa.table({"m": vals}), f"`m` {ddl}")


def _probe_frame(spark: SparkSession, vals: list, ddl: str) -> DataFrame:
    """One-column DataFrame (``__p2s_probe``) of probe values typed as
    ``ddl`` — the DataFrame-scale analog of ``_typed_lit`` for IN-lists
    of arbitrary size (per-value literal columns would blow Catalyst's
    codegen method limit at a few thousand probes). Datetime/date probes
    travel as epoch ints (wall-clock strings for ``timestamp_ntz``) and
    convert through session-timezone-independent functions; a date probe
    against a timestamp column is promoted to midnight UTC python-side
    (this engine defines naive instants as UTC). Built on ``_local``, a
    driver-side relation."""
    import datetime as _dt

    n_temporal = sum(isinstance(v, (_dt.date, _dt.datetime)) for v in vals)
    if n_temporal == 0:
        if (ddl.startswith("timestamp") or ddl == "date") and all(
            isinstance(v, int) and not isinstance(v, bool) for v in vals
        ):
            # ints against temporal columns mean epoch micros / days (the
            # zone-map storage unit, same convention as the residual
            # _bound and the CLI's --key-in typing); a typed frame would
            # reject raw ints for these types outright
            if ddl == "date":
                m = F.date_from_unix_date(F.col("m").cast("int"))
            elif ddl == "timestamp_ntz":
                return _local(spark, [_wall_str(v) for v in vals], "string").select(
                    F.col("m").cast("timestamp_ntz").alias("__p2s_probe")
                )
            else:
                m = F.timestamp_micros(F.col("m")).cast(ddl)
            return _local(spark, [int(v) for v in vals], "long").select(m.alias("__p2s_probe"))
        return _local(spark, list(vals), ddl).withColumnRenamed("m", "__p2s_probe")
    if n_temporal != len(vals):
        raise TypeError(
            "key_in mixes datetime/date probes with other value types — "
            "pass a homogeneous list"
        )
    if ddl == "date":
        # demote datetime probes to their UTC calendar date python-side
        # (naive instants are UTC in this engine); their epoch MICROS
        # must never reach date_from_unix_date, which reads DAYS
        days = [
            int(
                _zone_bound(
                    (
                        v.astimezone(_dt.timezone.utc).date()
                        if v.tzinfo is not None
                        else v.date()
                    )
                    if isinstance(v, _dt.datetime)
                    else v
                )
            )
            for v in vals
        ]
        return _local(spark, days, "long").select(
            F.date_from_unix_date(F.col("m").cast("int")).alias("__p2s_probe")
        )
    # every other target type: promote plain dates to midnight-UTC
    # datetimes FIRST (a date's _zone_bound is days, not micros)
    vals = [
        _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
        else v
        for v in vals
    ]
    if ddl == "timestamp_ntz":
        walls = [_wall_str(_zone_bound(v)) for v in vals]
        return _local(spark, walls, "string").select(
            F.col("m").cast("timestamp_ntz").alias("__p2s_probe")
        )
    return _local(spark, [int(_zone_bound(v)) for v in vals], "long").select(
        F.timestamp_micros(F.col("m")).cast(ddl).alias("__p2s_probe")
    )


def prune_by_range(df: DataFrame, column: str, lo=None, hi=None) -> DataFrame:
    """Zone-map chunk pruning for a decode of ``column`` restricted to
    [lo, hi] — ordinary Catalyst filters over stat columns."""
    keep = _zone_keep(column, lo, hi)
    return df if keep is None else df.filter(keep)


def _zone_keep(column: str, lo=None, hi=None):
    """The ``prune_by_range`` test as one Column (None: no bound): true
    for every chunk row of another column, and for a ``column`` row whose
    zone map may meet [lo, hi]."""
    # a boolean chunk's zone map holds 0/1 in the int stats
    lo, hi = (int(v) if isinstance(v, bool) else v for v in (_zone_bound(lo), _zone_bound(hi)))
    # Chunks with missing zone-map stats must be KEPT (pruning is only
    # sound when the stat proves disjointness) — same polarity as the
    # page-level prune. Float columns store no num stats, so without the
    # isNull() branch a float key_range would silently prune everything.
    tests = []
    if isinstance(lo, (bytes, str)) or isinstance(hi, (bytes, str)):
        if lo is not None:
            tests.append(F.col("max_bin").isNull() | (F.col("max_bin") >= F.lit(lo)))
        if hi is not None:
            tests.append(F.col("min_bin").isNull() | (F.col("min_bin") <= F.lit(hi)))
    else:
        # numeric: consult the int zone map AND the float zone map
        # (coalesce: first stat that exists decides; neither → keep).
        # Spark coerces bigint-vs-double compares, so a float bound prunes
        # int chunks and vice versa. Decimal bounds become CONSERVATIVE
        # floats (lo down, hi up) matching the chunk dbl stats' rounding.
        import decimal as _decimal
        import math

        if isinstance(lo, _decimal.Decimal):
            lo = math.nextafter(float(lo), -math.inf)
        if isinstance(hi, _decimal.Decimal):
            hi = math.nextafter(float(hi), math.inf)

        def _keep(stat_num, stat_dbl, op):
            # snapshots written before the NaN fix store inverted
            # +inf/-inf bounds for all-NaN chunks — treat as no-stat
            dbl = F.when(F.col("min_dbl") > F.col("max_dbl"), F.lit(True)).otherwise(
                op(F.col(stat_dbl))
            )
            return F.coalesce(op(F.col(stat_num)), dbl, F.lit(True))

        if lo is not None:
            tests.append(_keep("max_num", "max_dbl", lambda c: c >= F.lit(lo)))
        if hi is not None:
            tests.append(_keep("min_num", "min_dbl", lambda c: c <= F.lit(hi)))
    if not tests:
        return None
    return (F.col("column") != column) | functools.reduce(operator.and_, tests)


def _spark_le(a, b) -> bool:
    """``a <= b`` as Spark compares two numbers: a long against a double
    compares as doubles, and NaN sorts above every other value."""
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        a, b = float(a), float(b)
        if b != b:
            return True
        if a != a:
            return False
    return a <= b


def _zone_test(lo=None, hi=None):
    """``_zone_keep``'s test in Python, for the decoder: a predicate over
    one chunk row (a dict of its stat fields), true when the row's zone
    map may meet [lo, hi]. None when there is no bound. The same
    semantics, rule for rule: a missing stat keeps the chunk; the num stat
    decides when present, else the dbl stat, and an inverted (all-NaN)
    dbl zone map keeps it; decimal bounds widen outward; bools compare as
    0/1; bytes and str bounds test the bin stats (a str as its utf-8
    bytes, which is how Spark compares a string with a binary)."""
    lo, hi = (int(v) if isinstance(v, bool) else v for v in (_zone_bound(lo), _zone_bound(hi)))
    if lo is None and hi is None:
        return None
    if isinstance(lo, (bytes, str)) or isinstance(hi, (bytes, str)):
        lo, hi = (v.encode("utf-8") if isinstance(v, str) else v for v in (lo, hi))

        def test_bin(r: dict) -> bool:
            return (lo is None or r["max_bin"] is None or r["max_bin"] >= lo) and (
                hi is None or r["min_bin"] is None or r["min_bin"] <= hi
            )

        return test_bin
    import decimal as _decimal
    import math

    if isinstance(lo, _decimal.Decimal):
        lo = math.nextafter(float(lo), -math.inf)
    if isinstance(hi, _decimal.Decimal):
        hi = math.nextafter(float(hi), math.inf)

    def keep(r: dict, num: str, dbl: str, ok) -> bool:
        if r[num] is not None:
            return ok(r[num])
        mn, mx = r["min_dbl"], r["max_dbl"]
        if mn is not None and mx is not None and not _spark_le(mn, mx):
            return True
        return r[dbl] is None or ok(r[dbl])

    def test_num(r: dict) -> bool:
        return (lo is None or keep(r, "max_num", "max_dbl", lambda v: _spark_le(lo, v))) and (
            hi is None or keep(r, "min_num", "min_dbl", lambda v: _spark_le(v, hi))
        )

    return test_num


def check_integrity(
    snapshot_dir: str, as_of: int | None = None, filesystem=None, since: int | None = None,
    _snaps: list | None = None,
) -> list[tuple[int | None, str, np.ndarray, np.ndarray]]:
    """Every commit marker must have its data file (a marker without its
    file means a torn snapshot — fail loudly instead of decoding a
    silently-partial table). ``_snaps`` as in ``lineage``.

    Returns the chunk listing the check was made on, one entry per
    snapshot: ``(sid, snapshot dir, part ids, file sizes)``, with ``sid``
    None for a single snapshot dir. ``decode`` reads exactly these files,
    so the check and the read see the same ones."""
    from . import table as table_mod

    if _snaps is not None or table_mod.is_table(snapshot_dir, filesystem):
        if _snaps is None:
            _snaps = table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem, since)
        return [
            (sid, *check_integrity(sdir, filesystem=filesystem)[0][1:]) for sid, sdir in _snaps
        ]
    ids, sizes, missing = snapshot.chunk_listing(snapshot_dir, filesystem)
    if missing:
        raise FileNotFoundError(
            f"snapshot {snapshot_dir} is torn: committed partitions missing "
            f"data files: {missing[:10]}{'...' if len(missing) > 10 else ''}"
        )
    return [(None, snapshot_dir, ids, sizes)]


def _read_tasks(spark: SparkSession, sizes: np.ndarray) -> int:
    """Tasks for reading files of ``sizes`` bytes, by Spark's own
    file-split rule (``FilePartition.maxSplitBytes`` and
    ``getFilePartitions``): a decode has as many tasks as a parquet scan
    of its chunk files would have."""
    if not len(sizes):
        return 1
    jss = spark._jsparkSession
    conf = jss.sessionState().conf()
    max_bytes, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism()
    per_core = (int(sizes.sum()) + open_cost * len(sizes)) // min_parts
    split = min(max_bytes, max(open_cost, per_core))
    # a file larger than a split reads as several splits, then the splits
    # pack largest first, each costing its length plus the open cost
    full, rest = np.divmod(sizes, split)
    splits = np.concatenate([np.full(int(full.sum()), split), rest[rest > 0]])
    tasks, cur = 0, 0
    for n in np.sort(splits)[::-1].tolist():
        if cur and cur + n > split:
            tasks, cur = tasks + 1, 0
        cur += n + open_cost
    tasks += cur > 0
    max_parts = conf.filesMaxPartitionNum()
    if max_parts.isDefined():
        tasks = min(tasks, max_parts.get())
    return max(1, min(tasks, len(sizes)))


def _task_list(listing: list) -> tuple[np.ndarray, np.ndarray, dict]:
    """A read's task list from ``check_integrity``'s listing: the listed
    chunk files as global part ids (a table's namespaced by snapshot id)
    in part id order, their byte sizes, and each snapshot's dir by sid."""
    from . import table as table_mod

    shift = table_mod.SNAP_SHIFT
    dirs = {sid: sdir for sid, sdir, _, _ in listing}
    ids = np.concatenate(
        [np.empty(0, np.int64)]
        + [lid if sid is None else lid + (sid << shift) for sid, _, lid, _ in listing]
    )
    sizes = np.concatenate([np.empty(0, np.int64)] + [sz for _, _, _, sz in listing])
    return ids, sizes, dirs


def _open_listed(batches, ids: np.ndarray, dirs: dict, filesystem):
    """Inside a read task: ``(part id, sid, ChunkFile)`` for each listing
    position in ``batches`` (a ``spark.range`` over ``ids``), every file
    opened once through ``filesystem``. A listed file gone at read time
    raises ``FileNotFoundError``."""
    from . import table as table_mod

    shift = table_mod.SNAP_SHIFT
    roots: dict = {}
    for rb in batches:
        for pos in rb.column(0).to_numpy().tolist():
            pid = int(ids[pos])
            sid = None if None in dirs else pid >> shift
            if sid not in roots:
                roots[sid] = fsio.resolve(dirs[sid], filesystem)
            fs, root = roots[sid]
            path = snapshot.chunk_path(root, pid if sid is None else pid - (sid << shift))
            try:
                f = snapshot.ChunkFile(fs, path)
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"chunk file {path} does not exist; it was listed when the read was built"
                ) from e
            yield pid, sid, f


def chunks_frame(
    spark: SparkSession, listing: list, fields: list[str] | None = None, filesystem=None
) -> DataFrame:
    """The metadata frame of the chunk files in ``listing``
    (``check_integrity``'s): one row per column chunk, ``part_id`` from
    the listing (namespaced by snapshot id in a table) plus ``fields``
    typed by ``snapshot.CHUNK_PA_SCHEMA`` (every field but ``payload`` by
    default). One ``mapInArrow`` over a ``spark.range`` of listing
    positions, in as many tasks as ``decode`` reads the same files with:
    each task opens its files through ``filesystem`` with ``ChunkFile``
    and reads those fields only, so a payload byte is never read and the
    JVM scans no chunk file."""
    if fields is None:
        fields = [f for f in snapshot.CHUNK_PA_SCHEMA.names if f != "payload"]
    fields = [f for f in fields if f != "part_id"]
    schema = pa.schema([snapshot.CHUNK_PA_SCHEMA.field(f) for f in ["part_id", *fields]])
    ids, sizes, dirs = _task_list(listing)

    def read_meta(batches):
        # a task's files hold at most a file split of bytes (payload
        # included), so their metadata rows fit in memory as one table
        out = []
        for pid, _, f in _open_listed(batches, ids, dirs, filesystem):
            with f:
                t = f.read(fields)
            out.append(t.add_column(0, "part_id", pa.array(np.full(t.num_rows, pid, np.int64))))
        if out:
            yield from pa.concat_tables(out).to_batches()

    return spark.range(len(ids), numPartitions=_read_tasks(spark, sizes)).mapInArrow(
        read_meta, snapshot.ddl(schema)
    )


def decode(
    spark: SparkSession,
    snapshot_dir: str,
    columns: list[str] | None = None,
    key_range: tuple | None = None,
    as_of: int | None = None,
    key_eq: tuple | None = None,
    row_range: tuple | None = None,
    filesystem=None,
    since: int | None = None,
    key_in: tuple | None = None,
    key_ranges: list | None = None,
    not_null: str | list | None = None,
    is_null: str | list | None = None,
    _chunk_filter=None,
) -> DataFrame:
    """Reassemble original rows from a snapshot — or a multi-snapshot
    table dir (``as_of`` time-travels to that snapshot id).

    Every read is one Spark job. The driver lists each snapshot's
    ``chunks/`` once (the same listing the integrity check tests), and
    the listed part ids are the input of one ``mapInArrow`` decoder, in
    as many tasks as Spark's file-split rule gives a scan of those files.
    The decoder opens each chunk file once and reads its small metadata
    fields, then runs the survival test in Python: every positive
    predicate column present, its zone map (``_zone_test``, the rules of
    ``prune_by_range``), ``not_null``'s null count, ``is_null``'s
    null-free proof, and the bloom probe. For a survivor it reads the
    payload and the page index from the same open file, skips pages by
    the page index, and decodes. Residual row filters make every
    predicate exact. ``row_range`` first runs its prefix sums over the
    listed files' row counts (``chunks_frame``, no payload read).

    One reader sees ``snapshot_dir``: pyarrow (``fsio.resolve``, or the
    ``filesystem=`` object), for the manifest, lineage and listing on the
    driver and for the chunk files in the executors' Python. The
    filesystem must open them from the executors too: a ``filesystem=``
    object is pickled to them, and a URI's credentials or native client
    (libhdfs) must be there. A URI that pyarrow cannot open (a
    Hadoop-only scheme such as ``s3a://``) raises ``ValueError`` here,
    before any job.

    ``key_range=(column, lo, hi)`` (``key_ranges``: a list, AND-combined)
    keeps a partition whose chunk zone map may meet the range.
    ``not_null`` needs positive evidence (``null_count < n_rows``);
    ``is_null`` drops only chunks proven null-free, so partitions written
    before the column existed (all-null there) are kept. A partition
    that lacks every projected column (it predates them all) reads as
    rows of nulls.

    ``key_eq=(column, value)`` is the bloom-assisted point lookup (the
    reference's index-assisted read, SURVEY §3.3): the zone map prunes
    the range ``[value, value]`` and the decoder probes the stored
    split-block bloom (``EncodeConfig.bloom_columns``) with the value's
    ``xxhash64``, computed on the driver by ``bloom.probe_hashes`` as
    Spark hashed the column at encode time (no Spark query, and a plan
    that does not depend on the value). A null bloom keeps its
    partition, and so does a value whose Python type is not the column's
    own (a float on an int column, a date on a timestamp column). The
    residual ``column == value`` makes the result exact.

    ``key_in=(column, values)`` is the batch lookup: the ``[min, max]``
    envelope of the values prunes zone maps (none when NaN is listed), a
    bloom must hold ANY of their hashes, and the residual keeps the
    listed values (a broadcast semi-join for a temporal column).

    The plan is the decoder over a ``spark.range`` of listing positions,
    emitting ``columns`` in order, then one ``Filter`` when a predicate
    needs residual rows and one ``Project`` when a predicate reads a
    column ``columns`` lacks.

    ``_chunk_filter`` (internal, bin-pack compaction): a callable
    ``(sid, metadata rows) -> bool`` over a listed chunk file's
    ``column``/``n_rows``/``null_count`` rows; a file it rejects is not
    decoded and its payload is never read.

    The returned frame carries ``df.p2s_decode_metrics`` — a dict of
    ``pages_read``/``pages_skipped``/``parts_read`` SparkContext
    accumulators populated once an action runs (``parts_read`` counts the
    chunk payloads the decoder read: the surviving partitions). Two
    caveats, by construction: (1) it
    is a plain Python attribute on THIS DataFrame object — any further
    transform (``select``/``filter``/``cache``) returns a new object
    without it, so read it from the frame decode() returned; (2)
    accumulator updates are not transactional across task
    retries/speculation, so the counts are best-effort telemetry (may
    over-count under retry) — use them for skip-evidence assertions and
    profiling, never for correctness.
    """
    from . import table as table_mod

    # every read goes through pyarrow.fs (see the docstring).
    # ``since=k`` (table dirs): incremental read of snapshots (k, as_of]
    # only — the CDC-style consumption a periodically-retrained pipeline
    # uses; zero bytes of already-processed snapshots are touched.
    # The manifest is read once: the integrity check, the lineage and the
    # decoder see the same snapshots even if a commit or a compaction
    # swaps the manifest in between.
    every = snaps = None
    if table_mod.is_table(snapshot_dir, filesystem):
        every = table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem)
        snaps = [(sid, d) for sid, d in every if since is None or sid > since]
        if not every:
            raise FileNotFoundError(f"table {snapshot_dir} has no committed snapshots")
    elif since is not None:
        raise ValueError("since= requires a multi-snapshot table dir")
    listing = check_integrity(snapshot_dir, as_of, filesystem, since, _snaps=snaps)
    # an empty since= window takes its schema from the whole table and
    # reads zero rows
    lin = lineage(snapshot_dir, as_of, filesystem, since, _snaps=snaps or every)
    cols = columns or lin["columns"]
    schema_map = lin["schema"]

    # dotted columns ("meta.title") = nested projection pushdown: only the
    # requested struct fields are decoded; sibling fields' child pages are
    # skipped by header walk, never decompressed (the group-type analog of
    # the reference's get_field_columns)
    field_sel: dict[str, set[str]] = {}
    base_cols: list[str] = []
    for c in cols:
        if c not in schema_map and "." in c:
            base, fld = c.split(".", 1)
            if base not in schema_map:
                raise KeyError(f"column {base} (from {c}) not in snapshot schema")
            field_sel.setdefault(base, set()).add(fld)
            c = base
        if c not in base_cols:
            base_cols.append(c)
    cols = base_cols

    # every projected and predicate column must exist, checked before any
    # job runs (row_range and the lookup prune both collect)
    nn_cols = [not_null] if isinstance(not_null, str) else sorted(not_null or [])
    isnull_cols = [is_null] if isinstance(is_null, str) else sorted(is_null or [])
    preds = list(key_ranges or [])
    if key_range:
        preds.append(key_range)
    pred_cols = (
        [p[0] for p in preds]
        + [k[0] for k in (key_eq, key_in) if k is not None]
        + nn_cols
        + isnull_cols
    )
    unknown = [c for c in dict.fromkeys(cols + pred_cols) if c not in schema_map]
    if unknown:
        raise KeyError(f"columns not in snapshot schema: {unknown} (have {sorted(schema_map)})")

    # ``row_range=(start, stop)`` — the §3.3 row-interval read (reference
    # compute_rows/select_pages/SliceFilteredIter): partitions outside the
    # interval are pruned from the chunk rows' row counts (metadata
    # only), surviving partitions decode just their overlapping pages
    # executor-side via the page offset index. Row position is defined by
    # (part_id asc, row-in-partition) — the encode job's write order.
    row_spans = None
    if row_range is not None:
        if key_range is not None or key_ranges or key_eq is not None:
            raise ValueError("row_range cannot combine with key_range(s)/key_eq")
        if "snapshots" in lin or "table" in lin:
            raise ValueError("row_range requires a single-snapshot dir (not a table)")
        start, stop = int(row_range[0]), int(row_range[1])
        # partition row counts from the listed chunk files, cumulated
        # SPARK-SIDE so the driver collects only the partitions
        # whose row interval overlaps — O(surviving), never
        # O(#partitions). Row position is defined by global part_id
        # order; the prefix sum runs in TWO bounded passes instead
        # of one unpartitioned window (which serialized the whole
        # plan into a single task at ~10^6 partitions): (1) per
        # part_id-GROUP row sums (groups of _RR_GROUP consecutive
        # ids — #parts/_RR_GROUP scalars to the driver), prefixed
        # driver-side and sent back as a map literal; (2) a window
        # PARTITIONED by group (parallel across groups) adds the
        # within-group cumsum to its group's offset.
        from pyspark.sql import Window

        first = lin["columns"][0]
        meta = (
            chunks_frame(spark, listing, ["column", "n_rows"], filesystem)
            .filter(F.col("column") == first)
            .select("part_id", "n_rows")
            .withColumn("_grp", F.floor(F.col("part_id") / F.lit(_RR_GROUP)))
        )
        grp = sorted(
            (int(r["_grp"]), int(r["rows"]))
            for r in meta.groupBy("_grp").agg(F.sum("n_rows").alias("rows")).collect()
        )
        offs, acc = [], 0
        for g, rows_g in grp:
            # group-level prune: only groups overlapping the row
            # interval enter the per-part window at all
            if acc < stop and acc + rows_g > start:
                offs.append((g, acc))
            acc += rows_g
        row_spans = {}
        if offs:
            # the overlapping groups' offsets ride in the plan as one map
            # literal (≤ ~256 entries): no broadcast, so no extra job
            goff = F.create_map(*[F.lit(x) for g, o in offs for x in (g, o)])
            w = Window.partitionBy("_grp").orderBy("part_id").rowsBetween(
                Window.unboundedPreceding, -1
            )
            surv = (
                meta.filter(F.col("_grp").isin([g for g, _ in offs]))
                .withColumn(
                    "base",
                    F.element_at(goff, F.col("_grp"))
                    + F.coalesce(F.sum("n_rows").over(w), F.lit(0)),
                )
                .filter(
                    (F.col("base") < stop)
                    & (F.col("base") + F.col("n_rows") > start)
                )
                .collect()
            )
            for r in surv:
                pid, prows, base = int(r["part_id"]), int(r["n_rows"]), int(r["base"])
                lo = max(start - base, 0)
                hi = min(stop - base, prows)
                if lo < hi:
                    row_spans[pid] = (lo, hi)

    # the zone maps (chunk and page) prune the point lookups as ranges:
    # key_eq as the degenerate range [v, v] (a sorted or range-partitioned
    # key prunes partitions AND pages, binary-searched on boundary-ordered
    # chunks, even when no bloom was stored), key_in as the coarse
    # [min, max] envelope of its values (a clustered id batch-fetch
    # touches only the overlapping key range). They prune only: the
    # residual ``==``/``isin`` below is exact without them. A NaN probe
    # prunes no range: Spark equality holds NaN == NaN, but a range
    # compare would prune the NaN-bearing pages.
    import math as _math

    def _nan(v) -> bool:
        return isinstance(v, float) and _math.isnan(v)

    prune = list(preds)
    if key_eq is not None:
        eqc, eqv = key_eq
        if eqv is not None and not _nan(eqv):
            prune.append((eqc, eqv, eqv))
    if key_in is not None and key_in[1] and not any(map(_nan, key_in[1])):
        try:
            prune.append((key_in[0], min(key_in[1]), max(key_in[1])))
        except TypeError:
            pass  # unorderable/mixed values — bloom + residual only

    # bloom probe hashes per lookup column, hashed here as Spark hashed
    # the column at encode time (``bloom.probe_hashes``, no Spark query): a
    # partition survives if its bloom may hold one of each list's hashes.
    # A null bloom (column or snapshot encoded without one) keeps it, and
    # so does a probe of a foreign type (a float on an int column), which
    # has no hash; the residual still makes it exact.
    from ..plans import bloom as bloom_mod

    lookups = []
    if key_eq is not None:
        lookups.append((key_eq[0], [key_eq[1]]))
    if key_in is not None:
        lookups.append((key_in[0], list(key_in[1])))
    probes: dict[str, list] = {}
    for c, vals in lookups:
        h = bloom_mod.probe_hashes(vals, schema_map[c])
        if h is not None:
            probes.setdefault(c, []).append(h)

    # the decoder emits the caller's columns, then the ones only a
    # predicate reads (one select drops those after the residual)
    extra = [c for c in dict.fromkeys(pred_cols) if c not in cols]
    need = cols + extra
    # the decoder's task list: the listed chunk files (a row range's
    # only), as global part ids in part id order
    ids, sizes, dirs = _task_list(listing)
    if row_spans is not None:
        inside = np.isin(ids, np.fromiter(row_spans, np.int64, len(row_spans)))
        ids, sizes = ids[inside], sizes[inside]
    n_tasks = _read_tasks(spark, sizes)

    # the survival test each listed file's metadata rows must pass
    zone_tests = [(c, t) for c, t in ((p[0], _zone_test(p[1], p[2])) for p in prune) if t]
    positive = {p[0] for p in prune} | {c for c, _ in lookups} | set(nn_cols)
    tested = bool(positive or isnull_cols or _chunk_filter)
    meta_fields = ["column", "n_rows", "null_count"]
    if zone_tests:
        meta_fields += ["min_num", "max_num", "min_dbl", "max_dbl", "min_bin", "max_bin"]
    if probes:
        meta_fields.append("bloom")

    # the exact arrow types Spark expects back — Spark's Arrow exchange
    # carries TimestampType as tz-aware UTC regardless of
    # spark.sql.session.timeZone (the session tz only affects rendering),
    # and blob stores UTC-epoch micros, so the cast is value-preserving.
    # Struct types are pruned to the selected fields here so the UDF's
    # output schema and the blob-level field_filter agree.
    session_tz = "UTC"
    from ..schema import spark_type_to_pa

    from pyspark.sql import types as T

    stype = T.DataType.fromDDL(", ".join(f"`{c}` {schema_map[c]}" for c in need))
    if field_sel:
        def _prune_struct(st: "T.StructType", sel: set) -> "T.StructType":
            have = {sf.name for sf in st.fields}
            missing = sel - have
            if missing:
                raise KeyError(f"struct has no fields {sorted(missing)}")
            return T.StructType([sf for sf in st.fields if sf.name in sel])

        pruned = []
        for f in stype.fields:
            if f.name in field_sel:
                dt = f.dataType
                if isinstance(dt, T.StructType):
                    dt = _prune_struct(dt, field_sel[f.name])
                elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
                    dt = T.ArrayType(
                        _prune_struct(dt.elementType, field_sel[f.name]),
                        dt.containsNull,
                    )
                elif isinstance(dt, T.MapType) and isinstance(dt.valueType, T.StructType):
                    # map VALUE struct projection: "col.field" on a
                    # map<k, struct<...>> keeps the keys and prunes the
                    # value struct to the selected fields (the reference's
                    # get_field_columns walks ANY group type the same way,
                    # reference/src/read/mod.rs:70-77)
                    dt = T.MapType(
                        dt.keyType,
                        _prune_struct(dt.valueType, field_sel[f.name]),
                        dt.valueContainsNull,
                    )
                else:
                    raise TypeError(
                        f"{f.name} is not a struct, array<struct> or "
                        f"map<_, struct> — cannot project fields"
                    )
                f = T.StructField(f.name, dt, f.nullable)
            pruned.append(f)
        stype = T.StructType(pruned)
    expected_pa = {f.name: spark_type_to_pa(f.dataType, ts_tz=session_tz) for f in stype.fields}
    # decode metrics (read back after an action via df.p2s_decode_metrics):
    # pages decoded vs pages skipped by the page-level indexes, and chunk
    # payloads read — the observable evidence that pruning is physical,
    # not just a row filter
    acc_pages_read = spark.sparkContext.accumulator(0)
    acc_pages_skipped = spark.sparkContext.accumulator(0)
    acc_parts_read = spark.sparkContext.accumulator(0)

    need_arr = pa.array(need, pa.string())

    def survives(meta: pa.Table, sid: int | None) -> bool:
        if _chunk_filter is not None and not _chunk_filter(0 if sid is None else sid, meta):
            return False
        cols = meta.to_pydict()
        rows = {c: {k: v[i] for k, v in cols.items()} for i, c in enumerate(cols["column"])}
        if not positive <= rows.keys():
            return False
        for c, test in zone_tests:
            if not test(rows[c]):
                return False
        for c in nn_cols:
            nulls, n = rows[c]["null_count"], rows[c]["n_rows"]
            if nulls is None or n is None or nulls >= n:
                return False
        if any(c in rows and rows[c]["null_count"] == 0 for c in isnull_cols):
            return False
        for c, hs in probes.items():
            bs = rows[c]["bloom"]
            if bs is not None and not all(bloom_mod.might_contain(bs, h).any() for h in hs):
                return False
        return True

    def rebuild(ct: pa.Table, pid: int) -> pa.Table:
        # the page index of any column gives the partition's pages and
        # rows (pages are row-aligned across its columns)
        n_pages = len(json.loads(ct.column("page_rows")[0].as_py()))
        n_rows = int(ct.column("n_rows")[0].as_py())
        ct = ct.filter(pc.is_in(ct.column("column"), value_set=need_arr))
        # page zone maps and the null index skip whole pages inside
        # surviving chunks — the IndexedPageReader/select_pages analog
        page_keep = _page_keep(ct, prune, nn_cols, isnull_cols)
        kept = n_pages if page_keep is None else len(page_keep)
        acc_pages_read.add(kept)
        acc_pages_skipped.add(n_pages - kept)

        span = None if row_spans is None else row_spans[pid]
        out = _decode_part(ct, need, expected_pa, page_keep, field_sel, span, n_rows)
        if out is None:  # all pages pruned → typed 0-row table
            return pa.table({c: pa.array([], type=expected_pa[c]) for c in need})
        return out

    # Each task gets a range of positions in ``ids`` (the listing rides
    # in this closure). Per file: one open and one footer parse, the
    # metadata fields for the survival test, then the payload and page
    # index of a survivor from the same open file. Payload bytes never
    # pass through the JVM, and a pruned file's payload is never read.
    def decode_parts(batches):
        for pid, sid, f in _open_listed(batches, ids, dirs, filesystem):
            with f:
                if tested and not survives(f.read(meta_fields), sid):
                    continue
                ct = f.read([*_PART_FIELDS, "n_rows"])
            acc_parts_read.add(1)
            yield from rebuild(ct, pid).to_batches()

    import datetime as _dt

    # the parsed output type, so mapInArrow parses no DDL string again
    out = spark.range(len(ids), numPartitions=n_tasks).mapInArrow(decode_parts, stype)
    # residual row filters, as one filter: the zone maps and blooms prune
    # files and pages, these make every predicate exact. They take
    # ``_residual_lit``'s literals (session-tz-safe typed literals for
    # temporal values, plain ones otherwise).
    exact = []
    if key_eq is not None:
        exact.append(F.col(key_eq[0]) == _residual_lit(key_eq[1], schema_map[key_eq[0]]))
    if key_in is not None:
        in_col, in_vals = key_in
        in_ddl = schema_map[in_col]
        if in_ddl.startswith("timestamp") or in_ddl == "date" or any(
            isinstance(v, (_dt.date, _dt.datetime)) for v in in_vals
        ):
            # residual via broadcast semi-join on a typed probe frame —
            # session-tz-safe like _typed_lit, O(1) expression depth (an
            # N-deep Or tree of typed literals fails codegen for large
            # batch-fetch lists), and unit-correct for epoch-int probes
            # (isin would read an int against a timestamp column as SECONDS)
            pf = _probe_frame(spark, list(in_vals), in_ddl)
            out = out.join(
                F.broadcast(pf), out[in_col] == pf["__p2s_probe"], "left_semi"
            )
        else:
            exact.append(F.col(in_col).isin(list(in_vals)))
    for pcol, lo, hi in preds:
        for v, cmp in ((lo, operator.ge), (hi, operator.le)):
            if v is not None:
                exact.append(cmp(F.col(pcol), _residual_lit(v, schema_map[pcol])))
    exact += [F.col(c).isNotNull() for c in nn_cols]
    exact += [F.col(c).isNull() for c in isnull_cols]
    if exact:
        out = out.filter(functools.reduce(operator.and_, exact))
    if extra:
        out = out.select(*cols)
    # decode metrics ride on the result (read after an action):
    # {"pages_read": acc, "pages_skipped": acc, "parts_read": acc} —
    # accumulator .value
    out.p2s_decode_metrics = {
        "pages_read": acc_pages_read,
        "pages_skipped": acc_pages_skipped,
        "parts_read": acc_parts_read,
    }
    return out
