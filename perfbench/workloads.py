"""The workloads. Each one makes its inputs from the seed, warms the session
up, runs one measured pass against the engine's public entry points, and
checks the pass's outputs outside the timed region.

A pass records its step latencies (the samples behind `step_p50_s`:
replication sequences committed in both sinks, or queries) and the number
of operations it attempted and saw fail."""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import random
import time

from perfbench import inputs

# the span names every traced run reports, in report order
SPANS = [
    "pass",
    "operators.stats", "operators.rollups", "apps.footprint",
    "apps.generate_vt_zips",
    "streaming.stats_stream", "streaming.tiles_stream",
    "sinks.upsert", "sinks.mvt",
    "queries.ctor", "queries.action",
]


def _fail(p: dict, exc: BaseException) -> None:
    p["failed"] += 1
    p["errors"].append(f"{type(exc).__name__}: {str(exc)[:300]}")


def _new_pass() -> dict:
    """steps: latencies in s; attempted / failed operations and their
    errors; extras: per-layer counters the check reads off the outputs."""
    return {"steps": [], "attempted": 0, "failed": 0, "errors": [], "extras": {}}


def warm_up_session(spark) -> None:
    """Ship the engine package to the workers and run a first job; the
    Python worker pool starts in the first pass, as in a fresh job."""
    from osmesa_spark.session import ship_package

    ship_package(spark)
    spark.range(1).count()


def _tree_size(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _norm(v):
    """Order-insensitive, float-tolerant cell normalization for hashes."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _norm(tuple(v))
    return str(v)


def _norm_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_norm(r[i]) for i in order) for r in rows]


def _zoom0_density(layers) -> int:
    return sum(
        int(f.tags["density"])
        for feats in (layers or {}).values()
        for f in feats
        if "density" in f.tags
    )


def _add_tiles(p: dict, root: str) -> int:
    n, size = _tree_size(root)
    ex = p["extras"]
    ex["sinks.mvt.tiles_written"] = ex.get("sinks.mvt.tiles_written", 0) + n
    ex["sinks.mvt.tile_mb"] = ex.get("sinks.mvt.tile_mb", 0.0) + size / 2**20
    return n


# ---------------------------------------------------------------------------
# osm_backfill_catchup: the batch backfill, then the stream catch-up
# ---------------------------------------------------------------------------

class Backfill:
    """ChangesetStatsCreator + the four rollup views + FootprintCreator +
    the edit-histogram vt zips over a seeded OSM history."""

    FOOTPRINT_ZOOM = 5
    FOOTPRINT_CELLS = 16
    VT_ZOOM = 8
    VT_CELLS = 16

    def make_inputs(self, work: str, seed: int) -> dict:
        self.dir = os.path.join(work, "osm")
        self.sizes = inputs.backfill_inputs(self.dir, seed)
        return self.sizes

    def _tables(self, spark):
        return (
            spark.read.parquet(os.path.join(self.dir, "history.parquet")),
            spark.read.parquet(os.path.join(self.dir, "changesets.parquet")),
        )

    def warm_up(self, spark) -> None:
        for t in self._tables(spark):
            t.limit(1).count()

    def run(self, spark, tracer, out: str, p: dict) -> None:
        from pyspark.sql import functions as F

        from osmesa_spark import apps, datagen
        from osmesa_spark.operators import rollups
        from osmesa_spark.operators import vectorgrid as VG
        from osmesa_spark.operators.stats import changeset_stats
        from osmesa_spark.sinks import mvt

        hist, cs = self._tables(spark)
        stats_path = os.path.join(out, "changeset_stats")
        steps = [
            ("operators.stats", lambda: changeset_stats(
                hist, cs, countries=datagen.COUNTRY_POLYGONS
            ).write.parquet(stats_path)),
            ("operators.rollups", lambda: [
                getattr(rollups, view)(spark.read.parquet(stats_path))
                .write.parquet(os.path.join(out, view))
                for view in ("user_statistics", "hashtag_statistics",
                             "country_statistics", "hashtag_user_statistics")
            ]),
            ("apps.footprint", lambda: mvt.write_tile_pyramid_grouped(
                VG.vectorize(
                    apps.footprint(spark, hist, kind="user",
                                   base_zoom=self.FOOTPRINT_ZOOM),
                    cells=self.FOOTPRINT_CELLS, key_cols=["entity"],
                ).withColumn("sequence", F.lit(0)),
                os.path.join(out, "footprint"),
                cells=self.FOOTPRINT_CELLS, key_col="entity",
            )),
            ("apps.generate_vt_zips", lambda: apps.generate_vt_zips(
                spark, hist, os.path.join(out, "vt_zips"),
                base_zoom=self.VT_ZOOM, cells=self.VT_CELLS,
            )),
        ]
        for span, step in steps:
            p["attempted"] += 1
            try:
                with tracer.span(span):
                    step()
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                _fail(p, exc)
                break

    def check(self, spark, p: dict) -> dict[str, bool]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from osmesa_spark.sinks import mvt

        out = p["out"]
        stats_rows = pq.read_table(os.path.join(out, "changeset_stats"), columns=["id"]).num_rows
        user_sum = pc.sum(pq.read_table(
            os.path.join(out, "user_statistics"), columns=["changeset_count"]
        )["changeset_count"]).as_py()
        hist = pq.read_table(os.path.join(self.dir, "history.parquet"),
                             columns=["type", "lat", "lon"])
        located = pc.sum(pc.and_(
            pc.equal(hist["type"], "node"),
            pc.and_(pc.is_valid(hist["lat"]), pc.is_valid(hist["lon"])),
        ).cast("int64")).as_py()
        fp_root = os.path.join(out, "footprint")
        fp_z0 = sum(
            _zoom0_density(mvt.read_tile(os.path.join(fp_root, user), 0, 0, 0))
            for user in os.listdir(fp_root)
        )
        raw = mvt.read_zip_tile(os.path.join(out, "vt_zips"), 0, 0, 0)
        if raw and raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        vt_z0 = _zoom0_density(mvt.decode_tile(raw)) if raw else -1
        _add_tiles(p, fp_root)
        _add_tiles(p, os.path.join(out, "vt_zips"))
        return {
            "stats_rows_eq_changesets": stats_rows == self.sizes["changesets"],
            "user_changeset_count_sum_eq_rows": user_sum == stats_rows,
            "footprint_z0_density_eq_located_nodes": fp_z0 == located,
            "vt_zips_z0_density_eq_located_nodes": vt_z0 == located,
        }


def _progress(q) -> list[dict]:
    """The query's executed micro-batches as StreamingQueryProgress JSON."""
    batches = (json.loads(pr.json) for pr in q.recentProgress)
    return [d for d in batches if "addBatch" in (d.get("durationMs") or {})]


def _sequence_latencies(prog: list[dict]) -> list[float]:
    """Seconds per replication sequence in one stream: the micro-batch that
    read it plus the no-data batches (watermark only) that followed it."""
    lat: list[float] = []
    for d in prog:
        t = d["durationMs"]["triggerExecution"] / 1e3
        if d["numInputRows"] or not lat:
            lat.append(t)
        else:
            lat[-1] += t
    return lat


class CatchUp:
    """Closed-loop drain of a replication backlog, one sequence per
    micro-batch, through the stats upsert stream and then the faceted
    tile-updater stream."""

    TILE_ZOOM = 10
    TILE_CELLS = 16
    PROC_NAME = "augmented-diff-stats"

    def make_inputs(self, work: str, seed: int) -> dict:
        self.drop = os.path.join(work, "augdiffs")
        self.sizes = inputs.stream_inputs(self.drop, seed)
        return self.sizes

    def warm_up(self, spark) -> None:
        from osmesa_spark.sources import replication as R

        R.read_augmented_diffs(spark, self.drop).limit(1).count()

    def run(self, spark, tracer, out: str, p: dict) -> None:
        from osmesa_spark.datagen import COUNTRIES
        from osmesa_spark.sources import replication as R
        from osmesa_spark.streaming import stats_stream, tiles_stream

        p["progress"] = {}
        table = os.path.join(out, "stats_table")
        streams = [
            ("streaming.stats_stream", lambda good: (
                stats_stream.run_streaming_stats_to_upsert(
                    good, table, os.path.join(out, "ckpt_stats"),
                    proc_name=self.PROC_NAME, countries=COUNTRIES,
                ))),
            ("streaming.tiles_stream", lambda good: (
                tiles_stream.run_streaming_faceted_tile_updater(
                    good, os.path.join(out, "tiles"),
                    os.path.join(out, "ckpt_tiles"),
                    zoom=self.TILE_ZOOM, cells=self.TILE_CELLS,
                ))),
        ]
        for span, start in streams:
            p["attempted"] += 1
            q = None
            try:
                with tracer.span(span):
                    good, _ = R.split_errors(
                        R.read_augmented_diffs(spark, self.drop, streaming=True)
                    )
                    q = start(good)
                    q.processAllAvailable()
                    q.stop()
                p["progress"][span] = _progress(q)
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                _fail(p, exc)
                if q is not None and q.isActive:
                    q.stop()
        # a step is one sequence committed in both sinks
        per_stream = [_sequence_latencies(prog) for prog in p["progress"].values()]
        if len(per_stream) == len(streams):
            p["attempted"] += 1
            if len({len(lat) for lat in per_stream}) == 1:
                p["steps"] = [sum(seq) for seq in zip(*per_stream)]
            else:
                _fail(p, ValueError(
                    f"sequences per stream differ: {[len(x) for x in per_stream]}"
                ))

    def check(self, spark, p: dict) -> dict[str, bool]:
        from osmesa_spark.datagen import COUNTRIES
        from osmesa_spark.sinks.upsert import CheckpointTable, ParquetUpsertTable
        from osmesa_spark.sources import replication as R
        from osmesa_spark.streaming.stats_stream import streaming_changeset_stats

        out = p["out"]
        table = os.path.join(out, "stats_table")
        stored = ParquetUpsertTable(table).read(spark)
        got = [
            (r["id"], _norm(r["counts"]), _norm(r["measurements"]),
             int(r["total_edits"]), _norm(sorted(r["augmented_diffs"])))
            for r in stored.collect()
        ] if stored is not None else []

        # expected: the bounded rollup over the same drop dir, merged per
        # changeset in plain Python
        good, errors = R.split_errors(R.read_augmented_diffs(spark, self.drop))
        merged: dict[int, list] = {}
        for r in streaming_changeset_stats(good, COUNTRIES).collect():
            m = merged.setdefault(r["changeset"], [{}, {}, 0, set()])
            for k, v in (r["counts"] or {}).items():
                m[0][k] = m[0].get(k, 0) + v
            for k, v in (r["measurements"] or {}).items():
                m[1][k] = m[1].get(k, 0.0) + v
            m[2] += r["total_edits"]
            m[3].add(r["sequence"])
        want = [
            (cs, _norm(c), _norm(ms), n, _norm(sorted(seqs)))
            for cs, (c, ms, n, seqs) in merged.items()
        ]
        dead = errors.count()
        ckpt = CheckpointTable(os.path.join(table, "_checkpoints")).load(self.PROC_NAME)
        tiles = _add_tiles(p, os.path.join(out, "tiles"))
        prog = [d for v in p["progress"].values() for d in v]
        state = [d["stateOperators"][0] for d in prog if d.get("stateOperators")]
        phases = {}
        for phase in ("queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            phases[phase] = sum(d["durationMs"].get(phase, 0) for d in prog)
        p["extras"].update({
            "streaming.input_rows": sum(d["numInputRows"] for d in prog),
            "streaming.dead_letter_rows": dead,
            "streaming.query_planning_ms": phases["queryPlanning"],
            "streaming.add_batch_ms": phases["addBatch"],
            "streaming.wal_commit_ms": phases["walCommit"],
            "streaming.commit_offsets_ms": phases["commitOffsets"],
            "streaming.state_rows": max((s["numRowsTotal"] for s in state), default=0),
            "streaming.state_mem_mb": max(
                (s["memoryUsedBytes"] for s in state), default=0
            ) / 2**20,
            "sinks.upsert.table_rows": len(got),
        })
        p["detail"] = {"checkpoint": ckpt, "table_rows": len(got),
                       "expected_rows": len(want), "dead_letter_rows": dead}
        return {
            "upsert_table_eq_bounded_rollup": bool(got) and _digest(got) == _digest(want),
            "checkpoint_eq_last_sequence": ckpt == self.sizes["last_sequence"],
            "dead_letter_eq_injected": dead == self.sizes["corrupt_lines"],
            "tiles_written": tiles > 0,
        }


class OsmBackfillCatchup:
    """The batch creators over a seeded OSM history, then a closed-loop
    catch-up of a seeded replication backlog through both streams."""

    name = "osm_backfill_catchup"

    def __init__(self) -> None:
        self.phases = (Backfill(), CatchUp())

    def make_inputs(self, work: str, seed: int) -> dict:
        sizes = {}
        for ph in self.phases:
            sizes.update(ph.make_inputs(work, seed))
        return sizes

    def warm_up(self, spark) -> None:
        warm_up_session(spark)
        for ph in self.phases:
            ph.warm_up(spark)

    def run_pass(self, spark, tracer, out: str) -> dict:
        p = _new_pass()
        for ph in self.phases:
            ph.run(spark, tracer, out, p)
        return p

    def check(self, spark, p: dict) -> dict[str, bool]:
        res = {}
        for ph in self.phases:
            res.update(ph.check(spark, p))
        return res


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------

# One or two queries from each family of bench.py's HEADLINE list; the
# whole list does not fit the run's time budget (see perfbench/README.md).
# The order is fixed: which query pays a first-of-its-kind cost (JIT,
# Python workers, codegen) depends on its position.
SUITE = [
    # construction- and trainer-heavy
    "dedup_components", "doc_lr_quality",
    # Python/Arrow kernels
    "building_match",
    # shuffle-heavy
    "minhash_lsh_pairs",
    # similarity and text expression builders
    "neardup_cosine", "doc_bm25_topk",
    # OSM fixture queries
    "osm_changeset_stats", "osm_user_statistics",
]


class QuerySuite:
    """One construct + count() per query, in a fixed order."""

    name = "query_suite"
    SF_TABLES = ("documents", "embeddings", "events")
    ORACLE_CHECKS = 3

    def make_inputs(self, work: str, seed: int) -> dict:
        from osmesa_spark import queries as Q

        self.sf = os.path.join(work, "sf")
        # the oracle checks rotate with the seed
        self.checked = random.Random(seed).sample(SUITE, self.ORACLE_CHECKS)
        self.sizes = inputs.suite_inputs(self.sf, seed)
        # resolving an oracle writes the registry fixture it reads (once
        # per checkout), so no pass pays fixture generation
        registry = Q.registry()
        for name in SUITE:
            registry[name].oracle  # noqa: B018
        return self.sizes

    def warm_up(self, spark) -> None:
        from osmesa_spark import queries as Q

        warm_up_session(spark)
        for t in self.SF_TABLES:
            Q._t(spark, self.sf, t).limit(1).count()

    def run_pass(self, spark, tracer, out: str) -> dict:
        from osmesa_spark import queries as Q
        from osmesa_spark import queries_osm

        registry = Q.registry()
        p = _new_pass()
        p["frames"], p["rows"], p["ctor_windows"] = {}, {}, {}
        for name in SUITE:
            p["attempted"] += 1
            # the rollup views memoize the materialized stats table per
            # session; clear it so every construction pays the pipeline
            queries_osm._STATS_CACHE.clear()
            t0 = time.perf_counter()
            try:
                w0 = time.time()
                with tracer.span("queries.ctor", count_py4j=True):
                    df = registry[name].spark(spark, self.sf)
                p["ctor_windows"][name] = (w0, time.time())
                with tracer.span("queries.action"):
                    p["rows"][name] = df.count()
                p["frames"][name] = df
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                _fail(p, exc)
            p["steps"].append(time.perf_counter() - t0)
        return p

    def check(self, spark, p: dict) -> dict[str, bool]:
        """Every query returned rows; ORACLE_CHECKS queries drawn by the
        seed also match their DuckDB oracle by row count and
        order-insensitive hash (every query is covered over a few seeds)."""
        import duckdb

        from osmesa_spark import queries as Q

        registry = Q.registry()
        res = {f"rows:{name}": n > 0 for name, n in p["rows"].items()}
        con = duckdb.connect()
        for t in self.SF_TABLES:
            path = os.path.join(self.sf, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in self.checked:
            sql = registry[name].oracle
            if sql is None or name not in p["frames"]:
                continue
            rel = con.sql(sql)
            want = _norm_rows(list(rel.columns), rel.fetchall())
            got = _norm_rows(list(p["frames"][name].columns), p["frames"][name].collect())
            res[f"oracle:{name}"] = (
                len(want) == p["rows"][name] and _digest(got) == _digest(want)
            )
        con.close()
        return res
