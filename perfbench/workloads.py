"""The three benchmark workloads.

Each workload has a fixed *round* of operations drawn from the seed.
``setup`` makes the inputs and runs one untimed warm-up round; the timed
region then repeats rounds 1, 2, ... until ``--seconds`` of round time has
passed. Everything outside ``round`` -- inputs, warm-up, per-layer probes,
correctness checks and deleting scratch output -- is untimed. See
README.md for the metric -> layer -> workload map.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

from pyspark.sql import functions as F

import flfgen
from measure import median_or_none, tail


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def count_files(path: Path, suffix: str, exclude: str | None = None) -> int:
    return sum(
        1 for p in Path(path).rglob(f"*{suffix}")
        if p.is_file() and not p.name.startswith(".")
        and (exclude is None or exclude not in p.parts)
    )


def sub_seed(seed: int, *parts: int) -> int:
    """A stable derived seed (independent of ``PYTHONHASHSEED``)."""
    out = seed
    for p in parts:
        out = (out * 1_000_003 + p) % (2**31 - 1)
    return out


def checksum(df):
    """Row count and an order-insensitive sum of per-row xxhash64 values."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


def _timed(ops, kind):
    return [o for o in ops if o["kind"] == kind and o["timed"] and o["ok"]]


def _spans(ops, kind):
    return [o["span"] for o in _timed(ops, kind) if o["span"] is not None]


def _median_stat(index, spans, key):
    return median_or_none(index.stats(sp.id)[key] for sp in spans)


def _latency(prefix: str, walls) -> dict:
    """Median and tail of one run's latencies. The tail is null when fewer
    than 20 samples put it below the median; the raw samples are kept so
    that runs can be pooled (``sweep.py``)."""
    t = tail(walls)
    in_tail = t is not None and t[0] >= 50
    return {
        f"{prefix}_p50_s": (median_or_none(walls), "s"),
        f"{prefix}_tail_s": (t[1] if in_tail else None, "s"),
        f"{prefix}_tail_pct": (t[0] if in_tail else None, "%"),
        f"{prefix}_n": (len(walls), "count"),
        f"{prefix}_samples_s": (sorted(walls), "s"),
    }


class FlfIngest:
    """Mock an FLF file with ``Mocker`` and convert it to parquet with
    ``Converter``: the reference's own ``mock`` -> ``convert`` path."""

    name = "flf_ingest"
    rows = 1_000_000
    # Rounds reach a steady time only after ~20 s of JIT warm-up; one round
    # of twice the rows gets part of the way there.
    warm_rows = 2_000_000

    def setup(self, ctx) -> None:
        from evolution_spark.schema import BENCH_FLF_SCHEMA_DICT, FixedSchema

        self.schema = FixedSchema.from_dict(BENCH_FLF_SCHEMA_DICT)
        self.dir = ctx.work / "flf"
        self.sizes: list[tuple[int, int]] = []  # (flf bytes, parquet bytes)
        self.files_out: list[int] = []
        self.probes: dict[str, list[float]] = {"scan": [], "parse": [], "generate": []}
        self.round(ctx, 0, timed=False, rows=self.warm_rows)

    def _paths(self, i):
        return self.dir / f"r{i}.flf", self.dir / f"r{i}.parquet"

    def _mocker(self, rows, seed, path):
        from evolution_spark.mocker import Mocker

        return Mocker(self.schema, rows, str(path), seed=seed)

    def round(self, ctx, i: int, timed: bool = True, rows: int | None = None) -> None:
        from evolution_spark.converter import Converter

        rows = rows or self.rows
        src, out = self._paths(i)
        mocker = self._mocker(rows, sub_seed(ctx.seed, i), src)
        ctx.op("mocker.run", lambda: mocker.run(ctx.spark), timed=timed, rows=rows)
        ctx.op("converter.run",
               lambda: Converter(str(src), self.schema, str(out)).run(ctx.spark),
               timed=timed, rows=rows)

    def after_round(self, ctx, i: int) -> None:
        from evolution_spark.io.flf import read_flf

        for old in self._paths(i - 1):
            shutil.rmtree(old, ignore_errors=True)
        seed = sub_seed(ctx.seed, i)
        src, out = self._paths(i)
        self.sizes.append((dir_bytes(src), dir_bytes(out)))
        self.files_out.append(count_files(out, ".parquet"))
        if ctx.tracer.enabled:
            spark, probe = ctx.spark, ctx.probe
            self.probes["generate"].append(
                probe("mocker.generate", lambda: noop(self._mocker(self.rows, seed, src).dataframe(spark))))
            scan = probe("io.flf.scan", lambda: noop(spark.read.text(str(src))))
            parse = probe("io.flf.parse", lambda: noop(read_flf(spark, str(src), self.schema)))
            self.probes["scan"].append(scan)
            self.probes["parse"].append(parse - scan)
        self.last = i

    def final_check(self, ctx) -> None:
        src, out = self._paths(self.last)
        ctx.check(
            f"round {self.last}: parquet checksum equals Mocker.dataframe checksum",
            lambda: checksum(ctx.spark.read.parquet(str(out)))
            == checksum(self._mocker(self.rows, sub_seed(ctx.seed, self.last), src)
                        .dataframe(ctx.spark)),
        )
        shutil.rmtree(self.dir)

    def e2e(self, ctx) -> dict:
        def rate(kind):
            return median_or_none(o["rows"] / o["wall"] for o in _timed(ctx.ops, kind))

        return {
            "mock_rows_per_s": (rate("mocker.run"), "1/s"),
            "convert_rows_per_s": (rate("converter.run"), "1/s"),
            "out_bytes_per_in_byte": (median_or_none(o / i for i, o in self.sizes), "ratio"),
        }

    def layers(self, ctx, index) -> dict:
        mocks = _timed(ctx.ops, "mocker.run")
        converts = _spans(ctx.ops, "converter.run")
        out = {
            "io.flf.scan_s": median_or_none(self.probes["scan"]),
            "io.flf.parse_s": median_or_none(self.probes["parse"]),
            "mocker.generate_s": median_or_none(self.probes["generate"]),
            "mocker.encode_write_s": median_or_none(
                m["wall"] - g for m, g in zip(mocks, self.probes["generate"])),
            "mocker.bytes_out": median_or_none(i for i, _ in self.sizes),
            "converter.bytes_out": median_or_none(o for _, o in self.sizes),
            "converter.files_out": median_or_none(self.files_out),
        }
        out.update(converter_layers(index, converts))
        return out


def converter_layers(index, spans) -> dict:
    build = median_or_none(index.stats(sp.id)["before_first_job_s"] for sp in spans)
    wall = median_or_none(sp.wall for sp in spans)
    return {
        "converter.build_s": build,
        "converter.write_s": None if wall is None else wall - build,
        "converter.driver_s": _median_stat(index, spans, "driver_s"),
        "converter.executor_cpu_s": _median_stat(index, spans, "executor_cpu_s"),
        "converter.tasks": _median_stat(index, spans, "tasks"),
    }


class TableCommits:
    """Small FLF batches appended to a Delta and an Iceberg table through
    ``Converter(save_mode="append")``, with snapshot reads of the latest
    and of older versions in between, then one maintenance pass."""

    name = "table_commits"
    batches = 2
    warm_rounds = 2  # round times settle after two to three rounds
    rows = 25_000

    def setup(self, ctx) -> None:
        from evolution_spark.schema import FixedSchema

        self.schema = {
            "delta": FixedSchema.from_dict(flfgen.WIDE_SCHEMA_DICT),
            "iceberg": FixedSchema.from_dict(flfgen.ICEBERG_SCHEMA_DICT),
        }
        self.in_dir = ctx.work / "batches"
        self.batch = [
            flfgen.write_batch(self.in_dir / f"b{b:03d}.flf", sub_seed(ctx.seed, b),
                               b * self.rows, self.rows)
            for b in range(self.batches)
        ]
        self.tables = ctx.work / "tables"
        self.appended: list[tuple[int, int]] = []  # (bytes, parquet files) per timed append
        self.sizes: list[dict] = []
        self.probes: dict[str, list[float]] = {"scan": [], "parse": []}
        for _ in range(self.warm_rounds):
            self.round(ctx, 0, timed=False)
            shutil.rmtree(self.tables)

    def _paths(self, i):
        return self.tables / f"delta-r{i}", self.tables / f"iceberg-r{i}"

    @staticmethod
    def _snapshot_ids(path: Path) -> list[int]:
        meta = path / "metadata"
        current = json.loads((meta / (meta / "version-hint.text").read_text().strip()).read_text())
        return [s["snapshot-id"] for s in current["snapshots"]]

    def _append(self, ctx, fmt, batch, path, timed):
        from evolution_spark.converter import Converter

        layer = {"delta": "io.delta_log", "iceberg": "io.iceberg_meta"}[fmt]
        before = (dir_bytes(path), count_files(path, ".parquet", "_delta_log")) if path.exists() else (0, 0)
        conv = Converter(str(batch.path), self.schema[fmt], str(path), target=fmt, save_mode="append")
        ctx.op(f"{layer}.append", lambda: conv.run(ctx.spark), timed=timed, rows=batch.rows)
        if timed:
            self.appended.append((dir_bytes(path) - before[0],
                                  count_files(path, ".parquet", "_delta_log") - before[1]))

    def _read(self, ctx, fmt, path, version, timed):
        from evolution_spark.io.delta_log import read_delta_snapshot
        from evolution_spark.io.iceberg_meta import read_iceberg_table

        layer = {"delta": "io.delta_log", "iceberg": "io.iceberg_meta"}[fmt]

        def read():
            with ctx.tracer.span(f"{layer}.read_build"):
                if fmt == "delta":
                    df = read_delta_snapshot(ctx.spark, str(path), version=version)
                else:
                    df = read_iceberg_table(ctx.spark, str(path), snapshot_id=version)
            with ctx.tracer.span(f"{layer}.read_exec"):
                noop(df)

        ctx.op(f"{layer}.read", read, timed=timed, version=version)

    def round(self, ctx, i: int, timed: bool = True) -> None:
        from evolution_spark.io.delta_log import checkpoint_delta, optimize_delta
        from evolution_spark.io.iceberg_meta import compact_iceberg_table

        delta, iceberg = self._paths(i)
        rng = random.Random(sub_seed(ctx.seed, 7))
        for b in range(self.batches):
            self._append(ctx, "delta", self.batch[b], delta, timed)
            old = b > 0 and rng.random() < 0.5
            self._read(ctx, "delta", delta, rng.randrange(b) if old else None, timed)
            self._append(ctx, "iceberg", self.batch[b], iceberg, timed)
            snap = rng.choice(self._snapshot_ids(iceberg)[:-1]) if old else None
            self._read(ctx, "iceberg", iceberg, snap, timed)
        ctx.op("io.delta_log.optimize", lambda: optimize_delta(ctx.spark, str(delta)), timed=timed)
        ctx.op("io.delta_log.checkpoint", lambda: checkpoint_delta(str(delta)), timed=timed)
        ctx.op("io.iceberg_meta.compact", lambda: compact_iceberg_table(ctx.spark, str(iceberg)),
               timed=timed)

    def after_round(self, ctx, i: int) -> None:
        from evolution_spark.io.flf import read_flf

        for old in self._paths(i - 1):
            shutil.rmtree(old, ignore_errors=True)
        delta, iceberg = self._paths(i)
        log = delta / "_delta_log"
        meta = iceberg / "metadata"
        self.sizes.append({
            "stored": dir_bytes(delta) + dir_bytes(iceberg),
            "input": 2 * sum(b.n_bytes for b in self.batch),
            "log_bytes": dir_bytes(log),
            "data_files": count_files(delta, ".parquet", "_delta_log"),
            "metadata_bytes": dir_bytes(meta),
            "manifest_files": sum(1 for p in meta.glob("*.avro") if not p.name.startswith("snap-")),
        })
        if ctx.tracer.enabled:
            spark, probe = ctx.spark, ctx.probe
            scan = probe("io.flf.scan", lambda: noop(spark.read.text(str(self.in_dir))))
            parse = probe("io.flf.parse", lambda: noop(read_flf(spark, str(self.in_dir), self.schema["delta"])))
            self.probes["scan"].append(scan)
            self.probes["parse"].append(parse - scan)
        self.last = i

    def final_check(self, ctx) -> None:
        from evolution_spark.io.delta_log import read_delta_snapshot
        from evolution_spark.io.iceberg_meta import read_iceberg_table

        i = self.last
        delta, iceberg = self._paths(i)
        log = delta / "_delta_log"
        n, rows = self.batches, self.rows
        versions = sorted(int(p.name.split(".")[0]) for p in log.glob("*.json"))
        ctx.check(f"round {i}: delta versions are 0..{n} ({n} appends + optimize)",
                  lambda: versions == list(range(n + 1)))
        ctx.check(f"round {i}: delta checkpoint at version {n}",
                  lambda: (log / f"{n:020d}.checkpoint.parquet").exists())
        snaps = self._snapshot_ids(iceberg)
        ctx.check(f"round {i}: iceberg has {n + 1} snapshots", lambda: len(snaps) == n + 1)

        expected = {
            "rows": n * rows,
            "id_sum": sum(b.id_sum for b in self.batch),
            **{f"null_{c}": sum(b.nulls[c] for b in self.batch) for c in flfgen.MALFORMABLE},
            "null_name": 0,
        }

        def summary(df):
            aggs = [F.count(F.lit(1)).alias("rows"), F.sum("id").alias("id_sum")]
            aggs += [F.sum(F.col(c).isNull().cast("int")).alias(f"null_{c}")
                     for c in (*flfgen.MALFORMABLE, "name")]
            return df.agg(*aggs).first().asDict()

        for fmt, latest in (("delta", lambda: read_delta_snapshot(ctx.spark, str(delta))),
                            ("iceberg", lambda: read_iceberg_table(ctx.spark, str(iceberg)))):
            ctx.check(f"round {i}: {fmt} latest rows, id sum and NULLs from malformed fields",
                      lambda: summary(latest()) == expected, detail=lambda: summary(latest()))
        for k in sorted({0, n // 2, n - 1}):
            ctx.check(f"round {i}: delta version {k} has {(k + 1) * rows} rows",
                      lambda: read_delta_snapshot(ctx.spark, str(delta), version=k).count()
                      == (k + 1) * rows)
            ctx.check(f"round {i}: iceberg snapshot {k} has {(k + 1) * rows} rows",
                      lambda: read_iceberg_table(ctx.spark, str(iceberg), snapshot_id=snaps[k]).count()
                      == (k + 1) * rows)
        shutil.rmtree(self.tables)

    def e2e(self, ctx) -> dict:
        commits = [o for k in ("io.delta_log.append", "io.iceberg_meta.append")
                   for o in _timed(ctx.ops, k)]
        reads = [o["wall"] for k in ("io.delta_log.read", "io.iceberg_meta.read")
                 for o in _timed(ctx.ops, k)]
        return {
            **_latency("commit", [o["wall"] for o in commits]),
            **_latency("read", reads),
            "convert_rows_per_s": (median_or_none(o["rows"] / o["wall"] for o in commits), "1/s"),
            "out_bytes_per_in_byte": (
                median_or_none(s["stored"] / s["input"] for s in self.sizes), "ratio"),
        }

    def layers(self, ctx, index) -> dict:
        appends = {f: _spans(ctx.ops, f"{f}.append") for f in ("io.delta_log", "io.iceberg_meta")}
        out = {
            "io.flf.scan_s": median_or_none(self.probes["scan"]),
            "io.flf.parse_s": median_or_none(self.probes["parse"]),
            "converter.bytes_out": median_or_none(b for b, _ in self.appended),
            "converter.files_out": median_or_none(f for _, f in self.appended),
            "io.delta_log.optimize_s": median_or_none(s.wall for s in _spans(ctx.ops, "io.delta_log.optimize")),
            "io.delta_log.checkpoint_s": median_or_none(s.wall for s in _spans(ctx.ops, "io.delta_log.checkpoint")),
            "io.iceberg_meta.compact_s": median_or_none(s.wall for s in _spans(ctx.ops, "io.iceberg_meta.compact")),
        }
        for key in ("log_bytes", "data_files"):
            out[f"io.delta_log.{key}"] = median_or_none(s[key] for s in self.sizes)
        for key in ("metadata_bytes", "manifest_files"):
            out[f"io.iceberg_meta.{key}"] = median_or_none(s[key] for s in self.sizes)
        out.update(converter_layers(index, appends["io.delta_log"] + appends["io.iceberg_meta"]))
        for layer, spans in appends.items():
            out[f"{layer}.commit_driver_s"] = _median_stat(index, spans, "driver_s")
            reads = _spans(ctx.ops, f"{layer}.read")
            for part in ("build", "exec"):
                out[f"{layer}.read_{part}_s"] = median_or_none(
                    c.wall for r in reads for c in index.kids.get(r.id, [])
                    if c.name == f"{layer}.read_{part}")
        return out


QUERY_NAMES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_orders", "window_row_number_latest", "asof_join_orders",
    "fuzzy_join_supplier_names", "bfs_khop_reach", "dedup_minhash_lsh",
    "knn_bruteforce_cosine", "pagerank_order_graph",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class QueryMix:
    """Passes over eleven registered queries with the noop sink, in an
    order drawn from the seed. Bypasses FLF parse and encode entirely."""

    name = "query_mix"

    def setup(self, ctx) -> None:
        import __spark_entry__ as entry

        self.data = str(ctx.data_dir)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        # Warm-up doubles as the oracle check: every query runs once and its
        # collected result is compared with DuckDB on the same tables.
        results = {}
        for name in QUERY_NAMES:
            rec = ctx.op(f"queries.{name}.collect",
                         lambda: self.queries[name](ctx.spark, self.data).toPandas(), timed=False)
            results[name] = rec.get("result")
        self._oracle_checks(ctx, results)

    def _oracle_checks(self, ctx, results) -> None:
        import duckdb

        from tests.test_oracle_parity import _normalize

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(f"SET temp_directory='{ctx.work / 'duckdb'}'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            for name in QUERY_NAMES:
                def same(name=name):
                    spark_side = _normalize(results[name])
                    oracle_side = _normalize(con.sql(self.oracles[name]).df())
                    return spark_side == oracle_side
                ctx.check(f"{name}: equals its DuckDB oracle (sorted columns, exact values)", same)
        finally:
            con.close()

    def round(self, ctx, i: int, timed: bool = True) -> None:
        order = random.Random(sub_seed(ctx.seed, i)).sample(QUERY_NAMES, len(QUERY_NAMES))
        for name in order:
            def run(name=name):
                with ctx.tracer.span(f"queries.{name}.build"):
                    df = self.queries[name](ctx.spark, self.data)
                with ctx.tracer.span(f"queries.{name}.exec"):
                    noop(df)
            ctx.op(f"queries.{name}", run, timed=timed)

    def after_round(self, ctx, i: int) -> None:
        pass

    def final_check(self, ctx) -> None:
        pass  # the warm-up already compared every query with its oracle

    def e2e(self, ctx) -> dict:
        walls = [o["wall"] for o in ctx.ops if o["timed"] and o["kind"].startswith("queries.")]
        return _latency("query", walls)

    def layers(self, ctx, index) -> dict:
        out = {}
        for name in QUERY_NAMES:
            ops = _spans(ctx.ops, f"queries.{name}")
            kids = [{c.name.rsplit(".", 1)[1]: c for c in index.kids.get(sp.id, [])} for sp in ops]
            p = f"queries.{name}"
            out[f"{p}.build_s"] = median_or_none(k["build"].wall for k in kids)
            out[f"{p}.build_jobs"] = median_or_none(index.stats(k["build"].id)["jobs"] for k in kids)
            out[f"{p}.exec_s"] = median_or_none(k["exec"].wall for k in kids)
            out[f"{p}.executor_cpu_s"] = _median_stat(index, ops, "executor_cpu_s")
            out[f"{p}.shuffle_bytes"] = _median_stat(index, ops, "shuffle_bytes")
            out[f"{p}.spill_bytes"] = _median_stat(index, ops, "spill_bytes")
        return out


WORKLOADS = {w.name: w for w in (FlfIngest, TableCommits, QueryMix)}
