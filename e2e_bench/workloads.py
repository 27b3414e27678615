"""The benchmark's workloads: what one pass runs and how it is checked.

``EtlWorkload`` drives ``cli.main --fixture-json`` over a generated
document and checks the five CSVs it writes against the generator's
expected rows, field for field and in order.  ``SpecWorkload`` runs
query specs as ``builder()`` followed by a noop write, in a seeded
order, and checks each spec's collected result against its DuckDB
oracle with ``tools/check_oracle.py``'s normalisation.
"""

from __future__ import annotations

import contextlib
import csv
import importlib.util
import io
import json
import os
import random
import time
from dataclasses import dataclass, field

import docgen
import tablegen
import tracing


@dataclass
class PassResult:
    seconds: float
    ops: int
    failed: int
    rows: int  # rows behind rows_per_s
    layers: dict = field(default_factory=dict)  # traced passes only


class EtlWorkload:
    """``cli.main`` over a seeded Kepmendagri-shaped document."""

    def __init__(self, pages: int, rows_per_page: int, chunk_size: int, pass_s: float):
        self.pages, self.rows_per_page, self.chunk_size = pages, rows_per_page, chunk_size
        self.pass_s = pass_s  # nominal warm pass time, fixes the pass count

    def prepare(self, seed: int, work: str) -> None:
        grids, self.expected = docgen.generate(seed, self.pages, self.rows_per_page)
        self.doc = os.path.join(work, "doc.json")
        self.out = os.path.join(work, "out")
        with open(self.doc, "w", encoding="utf-8") as fh:
            json.dump(grids, fh, ensure_ascii=False)

    def prepare_checks(self) -> None:
        pass

    def _main(self, cli) -> int:
        argv = ["--fixture-json", self.doc, "-d", self.out, "-o", "doc",
                "-c", str(self.chunk_size)]
        with contextlib.redirect_stdout(io.StringIO()):
            return cli.main(argv)

    def run_pass(self, spark, tracer: tracing.Tracer | None, check: bool) -> PassResult:
        """One ``cli.main`` run.  Its CSVs are cheap to read back, so
        every pass is checked, whatever ``check`` says."""
        from idn_area_etl_spark import cli

        if tracer is None:
            start = time.perf_counter()
            rc = self._main(cli)
            seconds = time.perf_counter() - start
            layers = {}
        else:
            rc, seconds, layers = self._traced_main(cli, tracer)
        failed, written = self._check(rc)
        return PassResult(seconds, len(self.expected), failed, written, layers)

    def _traced_main(self, cli, tracer: tracing.Tracer):
        def count_raw(span, args, _result):
            span.attrs["rows"] = sum(len(grid) for _, _, grid in args[1])

        def count_written(span, _args, result):
            span.attrs["rows"] = sum(c for c in result.values() if c > 0)

        names = {
            "get_spark": ("session.get_spark", None),
            "raw_from_cell_grids": ("sources.raw", count_raw),
            "extract_all": ("operators.extract", None),
            "write_all_entities": ("writer.write", count_written),
        }
        with tracing.patched(cli, tracer, names), tracer.span("cli.main") as root:
            rc = self._main(cli)
        return rc, root.seconds, {"root": root}

    def _check(self, rc: int) -> tuple[int, int]:
        """Entity CSVs that differ from the expected rows, and data
        rows written."""
        if rc != 0:
            return len(self.expected), 0
        failed = written = 0
        for entity, rows in self.expected.items():
            path = os.path.join(self.out, f"doc.{entity}.csv")
            with open(path, newline="", encoding="utf-8") as fh:
                got = list(csv.reader(fh))[1:]
            failed += got != rows
            written += len(got)
        return failed, written

    def layer_metrics(self, tracer: tracing.Tracer, stats: dict, layers: dict) -> dict:
        root = layers["root"]
        spans = tracer.descendants(root)
        children = [sp for sp in spans if sp.parent == root.id]

        def of(name):
            return [sp for sp in spans if sp.name == name]

        writer = tracing.GroupStats()
        for sp in of("writer.write"):
            writer.add(stats.get(sp.group, tracing.GroupStats()))
        raw_rows = sum(sp.attrs["rows"] for sp in of("sources.raw"))
        written = sum(sp.attrs["rows"] for sp in of("writer.write"))
        return {
            "cli.chunks": len(of("sources.raw")),
            "cli.self_s": root.seconds - sum(sp.seconds for sp in children),
            "operators.extract_s": sum(sp.seconds for sp in of("operators.extract")),
            "operators.extract_calls": len(of("operators.extract")),
            "writer.write_s": sum(sp.seconds for sp in of("writer.write")),
            "writer.jobs": writer.jobs,
            "writer.tasks": writer.tasks,
            "writer.rows": written,
            "writer.kept_ratio": written / raw_rows,
            "writer.raw_reads_per_row": writer.raw_scan_rows / raw_rows,
            "sources.raw_s": sum(sp.seconds for sp in of("sources.raw")),
            "sources.raw_rows": raw_rows,
        }


def _load_check_oracle():
    """``tools/check_oracle.py`` of the checkout, for its normalisation."""
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class SpecWorkload:
    """Registered query specs over seeded parquet tables."""

    def __init__(self, specs: dict[str, tuple[str, ...]], orders: int,
                 events: int, documents: int, pass_s: float):
        self.reads = specs  # spec name -> tables it reads
        self.sizes = (orders, events, documents)
        self.pass_s = pass_s  # nominal warm pass time, fixes the pass count

    def prepare(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "tables")
        self.rows = tablegen.generate(seed, self.dir, *self.sizes)
        self.order = sorted(self.reads)
        random.Random(seed).shuffle(self.order)

    def prepare_checks(self) -> None:
        """Expected results from each spec's DuckDB oracle."""
        import duckdb

        from idn_area_etl_spark.plans import all_specs

        self.check_oracle = _load_check_oracle()
        self.specs = all_specs()
        con = duckdb.connect()
        for table in self.rows:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(self.dir, table)}.parquet'")
        self.expected = {}
        for name in self.order:
            rel = con.sql(self.specs[name].oracle)
            self.expected[name] = self.check_oracle.canonical(rel.fetchall(), rel.columns)
        con.close()
        self.wrong: set[str] = set()

    def input_rows(self) -> int:
        return sum(self.rows[t] for name in self.order for t in self.reads[name])

    def run_pass(self, spark, tracer: tracing.Tracer | None, check: bool) -> PassResult:
        """One execution of every spec.  With ``check``, each result is
        collected after its timed write and compared with the oracle;
        a spec found wrong counts as failed on every execution."""
        seconds, failed, layers = 0.0, 0, {}
        for name in self.order:
            builder = self.specs[name].builder
            if tracer is None:
                start = time.perf_counter()
                df = builder(spark, self.dir)
                df.write.format("noop").mode("overwrite").save()
                seconds += time.perf_counter() - start
            else:
                with tracer.span("plans.build") as build:
                    df = builder(spark, self.dir)
                with tracer.span("plans.action") as action:
                    df.write.format("noop").mode("overwrite").save()
                seconds += build.seconds + action.seconds
                layers[name] = (build, action, tracing.catalyst_s(df))
            if check:
                got = self.check_oracle.canonical([tuple(r) for r in df.collect()], df.columns)
                if got != self.expected[name]:
                    self.wrong.add(name)
            failed += name in self.wrong
        return PassResult(seconds, len(self.order), failed, self.input_rows(), layers)

    def layer_metrics(self, tracer: tracing.Tracer, stats: dict, layers: dict) -> dict:
        build_s = action_s = catalyst = 0.0
        build_jobs = action_jobs = 0
        total = tracing.GroupStats()
        for build, action, catalyst_part in layers.values():
            empty = tracing.GroupStats()
            b, a = stats.get(build.group, empty), stats.get(action.group, empty)
            build_s += build.seconds
            action_s += action.seconds
            build_jobs += b.jobs
            action_jobs += a.jobs
            catalyst += catalyst_part
            total.add(b)
            total.add(a)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        return {
            "sources.input_rows": total.input_rows,
            "sources.input_bytes": total.input_bytes,
            "plans.build_s": build_s,
            "plans.build_jobs": build_jobs,
            "plans.build_share": build_s / (build_s + action_s),
            "plans.action_s": action_s,
            "plans.action_jobs": action_jobs,
            "plans.stages": total.stages,
            "plans.tasks": total.tasks,
            "plans.task_busy_s": total.task_busy_s,
            "plans.core_util": total.task_busy_s / ((build_s + action_s) * cores),
            "plans.shuffle_write_bytes": total.shuffle_write_bytes,
            "plans.spill_bytes": total.spill_bytes,
            "plans.catalyst_s": catalyst,
        }


OLAP_SPECS = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_regional_revenue": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "q10_returned_items": ("lineitem", "orders", "customer", "nation"),
    "q_events_hourly": ("events",),
    "q_events_sessionize": ("events",),
}
DEDUP_SPECS = {"d_dedup_clusters": ("documents",)}

WORKLOADS = {
    "etl_bulk": lambda: EtlWorkload(pages=6, rows_per_page=60, chunk_size=6, pass_s=8.5),
    "etl_chunked": lambda: EtlWorkload(pages=6, rows_per_page=30, chunk_size=3, pass_s=18),
    "dedup": lambda: SpecWorkload(DEDUP_SPECS, orders=100, events=100, documents=200,
                                  pass_s=2.3),
    "olap": lambda: SpecWorkload(OLAP_SPECS, orders=2000, events=2000, documents=100,
                                 pass_s=4.5),
}
