"""The benchmark's workloads.

Each workload is closed-loop and single-client: one driver process runs
one unit of work at a time (an alert micro-batch, or one pass over a
catalog query list) and starts the next only when it returns.

A workload exposes ``setup()`` (input generation, warm-up, state
preload), ``cycle()`` (one timed unit: seconds, input items, ok),
``check(units)`` (output checks after the timed region: how many of the
timed units failed them, and what failed) and ``trace(tracer)``, which
rebinds the layer functions it calls to traced wrappers.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import math
import random
import re
import sys
import time
from datetime import datetime
from pathlib import Path

from perfbench import inputs


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _norm(v):
    """Engine-neutral value form for digests: numpy → Python, NaN →
    None, floats by repr, sequences as tuples, timestamps ISO."""
    if hasattr(v, "ndim"):
        if v.ndim == 0:
            v = v.item()
        else:
            return tuple(_norm(x) for x in v.tolist())
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def frame_digest(pdf) -> str:
    """Order-independent digest of a pandas frame: columns by name, rows
    as a sorted multiset."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_norm(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("|".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


# ------------------------------------------------------------------ alerts

class AlertsSteady:
    """The paper's 10-minute DAG run as availableNow micro-batches."""

    PRELOAD = 2000  # alerts of state built by the pipeline itself
    NEW_PER_PAGE = 20
    UPDATES_PER_PAGE = 30
    N_CONFIGS = 12
    NOW = datetime(2024, 3, 1, 12, 0)

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.outbox: list[tuple[tuple[str, ...], str, str]] = []
        self.notified: list[int] = []
        self._page_no = 0

    # -- inputs and sinks ---------------------------------------------
    def _generate(self) -> None:
        self.layers = inputs.make_layers(self.seed)
        self.pages = inputs.AlertPages(
            self.seed, self.layers, self.PRELOAD, self.NEW_PER_PAGE,
            self.UPDATES_PER_PAGE,
        )
        self.preload = self.pages.preload_page()
        self.configs = inputs.make_email_configs(
            self.seed, self.N_CONFIGS, self.layers)

    def _frames(self) -> None:
        s = self.spark
        self.gis_areas = s.createDataFrame(
            self.layers.areas, "area_type string, area string, WKT string")
        self.suburb_layer = s.createDataFrame(
            self.layers.suburbs, "name string, WKT string")
        self.ward_layer = s.createDataFrame(
            self.layers.wards, "name string, WKT string")

    def _transport(self, to, subject, html) -> None:
        self.outbox.append((tuple(to), subject, html))

    def setup(self) -> dict[str, float]:
        from service_alerts_connector_spark.plans import pipeline
        from service_alerts_connector_spark.plans.augmenter import (
            AugmenterConfig,
        )

        gen_s = _timed(self._generate)
        for d in ("staged", "lake", "feeds", "recon", "ckpt"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        self.sinks = pipeline.PipelineSinks(
            feeds_root=str(self.work / "feeds"),
            recon_root=str(self.work / "recon"),
            notifier=self.notified.extend,
            email_transport=self._transport,
            email_configs=self.configs,
        )
        # admission cap sized to the preload, so every page drains whole
        # and "notified == new" holds batch by batch
        self.aug_config = AugmenterConfig(data_size_limit=self.PRELOAD)
        # the preload builds every state dataset (silver, gold, snapshot,
        # sent-log) through the pipeline.  It skips the two file sinks
        # (feeds, per-alert recon objects): no later batch reads them, and
        # the first timed batch writes every feed
        self._active_sinks = dataclasses.replace(
            self.sinks, feeds_root=None, recon_root=None)
        t = time.perf_counter()
        self._frames()
        self._stage(self.preload)
        self._drain()
        self._active_sinks = self.sinks
        preload_s = time.perf_counter() - t
        return {"generate_s": gen_s, "preload_s": preload_s}

    def _stage(self, records: list[dict]) -> None:
        inputs.write_page(
            self.work / "staged" / f"page-{self._page_no:05d}.jsonl", records)
        self._page_no += 1

    def _batch_fn(self, bdf, batch_id) -> None:
        from service_alerts_connector_spark.plans import pipeline

        pipeline.run_micro_batch(
            bdf, str(self.work / "lake"), sinks=self._active_sinks,
            augmenter_config=self.aug_config, gis_areas=self.gis_areas,
            suburb_layer=self.suburb_layer, ward_layer=self.ward_layer,
            now=self.NOW,
        )

    def _drain(self) -> None:
        from service_alerts_connector_spark.streaming import runner

        runner.run_available_now(
            runner.stream_raw_alerts(
                self.spark, str(self.work / "staged"),
                max_files_per_trigger=1),
            self._batch_fn,
            str(self.work / "ckpt"),
        )

    # -- one timed unit -----------------------------------------------
    def cycle(self) -> tuple[float, int, bool]:
        page, new_ids = self.pages.next_page()
        self.notified.clear()
        t = time.perf_counter()
        self._stage(page)
        self._drain()
        dt = time.perf_counter() - t
        ok = sorted(self.notified) == sorted(new_ids)
        return dt, len(page), ok

    # -- output checks ------------------------------------------------
    _FIELD = re.compile(r"<tr><td>(Id|status)</td><td>([^<]*)</td></tr>")

    def check(self, units: int) -> tuple[int, list[str]]:
        from service_alerts_connector_spark.constants import (
            AUGMENTED_DATASET,
        )
        from service_alerts_connector_spark.sources.parquet_io import (
            read_dataset,
        )

        problems = []
        keys = []
        for to, _subject, html in self.outbox:
            f = dict(self._FIELD.findall(html))
            keys.append((to, f.get("Id"), f.get("status")))
        if len(keys) != len(set(keys)):
            problems.append(
                f"{len(keys) - len(set(keys))} emails repeat a "
                "(config, Id, status) key")
        if not self.outbox:
            problems.append("no email was sent")
        feeds = sorted((self.work / "feeds").rglob("*.json"))
        if len(feeds) != 24:
            problems.append(f"{len(feeds)} feed files, expected 24")
        for p in feeds:
            try:
                if not isinstance(json.loads(p.read_text()), list):
                    problems.append(f"feed {p.name} is not a JSON array")
            except ValueError:
                problems.append(f"feed {p} does not parse")
        gold = read_dataset(self.spark, str(self.work / "lake"),
                            AUGMENTED_DATASET)
        got = gold.select("Id", "status", "title", "service_area").toPandas()
        want = [
            (i, r["Status12"], r["Title1"], r["Service_x0020_Area12"])
            for i, r in self.pages.state.items()
        ]
        import pandas as pd

        want_pdf = pd.DataFrame(
            want, columns=["Id", "status", "title", "service_area"])
        if frame_digest(got) != frame_digest(want_pdf):
            problems.append(
                f"gold digest {frame_digest(got)} != expected "
                f"{frame_digest(want_pdf)}")
        # a whole-state defect taints every timed batch
        return (units if problems else 0), problems

    # -- tracing ------------------------------------------------------
    def trace(self, tracer) -> None:
        from service_alerts_connector_spark.plans import pipeline
        from service_alerts_connector_spark.streaming import runner

        def written_bytes():
            return lambda path: {"bytes": sum(
                f.stat().st_size for f in Path(path).rglob("*")
                if f.is_file())}

        def sent_emails():
            before = len(self.outbox)
            return lambda _: {"emails": len(self.outbox) - before}

        layers = [
            ("fix_alerts", "plans.fixer.fix_alerts", None),
            ("augment", "plans.augmenter.augment", None),
            ("broadcast_feeds", "plans.broadcaster.broadcast_feeds",
             lambda: lambda feeds: {"files": len(feeds)}),
            ("recon", "plans.recon.recon", None),
            ("pending_emails", "plans.emailer.pending_emails", None),
            ("send_pending", "plans.emailer.send_pending", sent_emails),
            ("read_dataset", "sources.parquet_io.read_dataset", None),
            ("write_dataset", "sources.parquet_io.write_dataset",
             written_bytes),
        ]
        for attr, name, count in layers:
            tracer.wrap(pipeline, attr, name, count)
        tracer.wrap(pipeline, "run_micro_batch",
                    "plans.pipeline.run_micro_batch")
        tracer.wrap(runner, "run_available_now",
                    "streaming.runner.run_available_now")

    _LAYERS = (
        ("plans.emailer.pending_emails", ("wall_s", "jobs")),
        ("plans.emailer.send_pending", ("wall_s", "jobs", "emails")),
        ("plans.broadcaster.broadcast_feeds", ("wall_s", "jobs", "files")),
        ("sources.parquet_io.write_dataset", ("wall_s", "jobs", "bytes")),
        ("sources.parquet_io.read_dataset", ("wall_s", "jobs")),
        ("plans.fixer.fix_alerts", ("wall_s", "jobs")),
        ("plans.augmenter.augment", ("wall_s", "jobs")),
        ("plans.recon.recon", ("wall_s", "jobs")),
        ("plans.pipeline.run_micro_batch", ("wall_s", "self_s")),
    )
    LAYER_KEYS = tuple(
        f"{key}.{q}" for key, qty in _LAYERS for q in qty
    ) + ("streaming.runner.overhead_s",)

    @staticmethod
    def layer_metrics(summary: dict[str, float]) -> dict[str, float]:
        out = {k: summary.get(k, 0.0) for k in AlertsSteady.LAYER_KEYS}
        out["streaming.runner.overhead_s"] = (
            summary.get("streaming.runner.run_available_now.wall_s", 0.0)
            - summary.get("plans.pipeline.run_micro_batch.wall_s", 0.0))
        return out


# ----------------------------------------------------------------- catalog

class CatalogMixed:
    """Repeated passes over a fixed catalog query list on generated
    tables; each query is built, then forced through ``noop``.

    The list pairs a query that launches Spark jobs while it is being
    built (the connected-components fixpoint) with one that spends its
    time executing (banded MinHash LSH), so build-time and
    execution-time changes both move the pass time, and the per-layer
    trace tells them apart."""

    SF = 0.01
    QUERIES = ("dedup_clusters", "dedup_minhash_lsh")
    # the first pass in a fresh JVM costs about five warm ones; later
    # passes keep getting a few percent faster for ten passes or more
    # while the JIT compiles.  Two warm-up passes take the cold pass out
    # of the timed region; more do not fit the protocol's hour
    WARMUP_PASSES = 2

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sf_dir = work / "tables"
        self._order_rng = random.Random(seed)
        self.tracer = None
        self.last: dict[str, object] = {}  # last timed pass's frames

    def setup(self) -> dict[str, float]:
        import __spark_entry__

        gen_s = _timed(lambda: inputs.write_catalog_tables(
            self.sf_dir, self.seed, self.SF))
        registry = __spark_entry__.queries()
        self.queries = {q: registry[q] for q in self.QUERIES}
        self.oracles = {q: __spark_entry__.oracle_sql()[q]
                        for q in self.QUERIES}
        t = time.perf_counter()
        for _ in range(self.WARMUP_PASSES):
            for q in self.QUERIES:
                df = self.queries[q](self.spark, str(self.sf_dir))
                df.write.format("noop").mode("overwrite").save()
        warm_s = time.perf_counter() - t
        return {"generate_s": gen_s, "warmup_s": warm_s}

    def _span(self, name):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def cycle(self) -> tuple[float, int, bool]:
        order = list(self.QUERIES)
        # a query's time depends on what ran before it in the session
        self._order_rng.shuffle(order)
        ok = True
        t = time.perf_counter()
        with self._span("catalog.pass"):
            for q in order:
                try:
                    with self._span(f"{q}.build"):
                        df = self.queries[q](self.spark, str(self.sf_dir))
                    with self._span(f"{q}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    self.last[q] = df
                except Exception as exc:  # count it, keep the loop going
                    print(f"perfbench: {q} raised {exc!r}", file=sys.stderr)
                    self.last.pop(q, None)
                    ok = False
        return time.perf_counter() - t, len(order), ok

    def check(self, units: int) -> tuple[int, list[str]]:
        """Digest each query's output from the last timed pass and its
        DuckDB oracle over the same generated tables; the digests must
        agree.  Digesting re-executes the last pass's plan.  Every pass
        runs every query, so a query that fails its check fails every
        timed unit."""
        import duckdb

        con = duckdb.connect()
        for p in sorted(self.sf_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                        f"read_parquet('{p}')")
        problems = []
        for q in self.QUERIES:
            want = frame_digest(con.execute(self.oracles[q]).df())
            if q not in self.last:
                problems.append(f"{q}: its last timed pass raised")
                continue
            got = frame_digest(self.last[q].toPandas())
            if got != want:
                problems.append(f"{q}: oracle {want} last pass {got}")
        con.close()
        return (units if problems else 0), problems

    LAYER_KEYS = ("catalog.build_s", "catalog.exec_s", "catalog.jobs_build",
                  "catalog.jobs_exec") + tuple(
        f"{q}.{k}" for q in QUERIES for k in ("build_s", "exec_s", "jobs_build"))

    def trace(self, tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, summary: dict[str, float]) -> dict[str, float]:
        out = {"catalog.build_s": 0.0, "catalog.exec_s": 0.0,
               "catalog.jobs_build": 0.0, "catalog.jobs_exec": 0.0}
        for q in self.QUERIES:
            b = summary.get(f"{q}.build.wall_s", 0.0)
            e = summary.get(f"{q}.exec.wall_s", 0.0)
            jb = summary.get(f"{q}.build.jobs", 0.0)
            je = summary.get(f"{q}.exec.jobs", 0.0)
            out[f"{q}.build_s"] = b
            out[f"{q}.exec_s"] = e
            out[f"{q}.jobs_build"] = jb
            out["catalog.build_s"] += b
            out["catalog.exec_s"] += e
            out["catalog.jobs_build"] += jb
            out["catalog.jobs_exec"] += je
        return out


WORKLOADS = {
    "alerts_steady": AlertsSteady,
    "catalog_mixed": CatalogMixed,
}
# every traced run reports every layer; a layer a workload never calls
# reads 0 there
LAYER_KEYS = AlertsSteady.LAYER_KEYS + CatalogMixed.LAYER_KEYS + (
    "spark.task_cpu_s", "spark.shuffle_write_bytes", "spark.stages",
    "spark.failed_tasks", "spark.codegen_fallbacks",
    "trace.cycle_s_p50", "trace.overhead_s",
)
