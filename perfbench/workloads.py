"""The benchmark's workloads.  Each drives the package through its
public functions, closed loop: one client, passes back to back.

A workload provides ``setup`` (inputs and exact answers; repeated so
its median is steady), ``load`` and ``warm`` (untimed), ``one_pass``
(timed; runs its correctness checks), and the inputs of the traced
layer probes (``scan_input``, ``arrow_input``, ``traced_extras``).
``one_pass`` returns the durations of its phases.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from associationabacminer_spark.operators.agg import (
    build_sketches,
    sketch_aggregate,
    tree_merge,
)
from associationabacminer_spark.operators.ingest import (
    dedup_store_read,
    dedup_store_write,
    incremental_ingest,
    ingest_delta,
    store_params,
)
from associationabacminer_spark.operators.windowed_sketch import (
    rollup_windows,
    run_windowed_with_lineage,
)
from associationabacminer_spark.plans.lineage import run_with_lineage
from associationabacminer_spark.sketch import BloomFilter
from associationabacminer_spark.suite import (
    prepare_transcripts,
    sql_sketch_suite,
    transcript_specs,
)

from checks import (
    Checks,
    check_paths_agree,
    check_transcript_suite,
    hll_tolerance,
)
from inputs import transcript_exact, write_ingest_batches, write_transcripts

now = time.perf_counter


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    name = ""
    base_rows = 0
    warm_passes = 1

    def __init__(self, spark, tracer, checks: Checks, work: str, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.checks = checks
        self.work = work
        self.seed = seed
        self.rows = max(2000, int(self.base_rows * scale))
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm(self) -> None:
        for _ in range(self.warm_passes):
            self.one_pass()
            self.after_pass()

    def after_pass(self) -> None:
        """Remove what a pass wrote, so the next pass starts from the same state."""

    def inject_wrong_answer(self) -> None:
        raise NotImplementedError


class TranscriptWorkload(Workload):
    """Shared set-up: a generated transcript table and its exact answers."""

    # turns kept per generated conversation: uncut, one conversation held
    # a fifth to two fifths of the table on some seeds, and set-up and pass
    # times followed the seed
    max_turns = 1000

    def setup(self) -> dict[str, float]:
        table = self.path("transcripts")
        t0 = now()
        write_transcripts(self.spark, table, self.seed, self.rows, self.max_turns)
        t1 = now()
        self.exact = transcript_exact(self.spark, table, self.seed)
        return {"generate_s": t1 - t0, "exact_s": now() - t1}

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.path("transcripts"))

    def scan_input(self):
        return self.df

    def inject_wrong_answer(self) -> None:
        self.exact.distinct_convs = int(self.exact.distinct_convs * 1.2)


class SketchBuild(TranscriptWorkload):
    """Five transcript sketches, built by the default map path and by the
    JVM-side SQL reductions, over one table: read-only, kernel, Arrow and
    SQL-reduction bound, few large jobs."""

    name = "sketch_build"
    base_rows = 120_000
    # pass times fall for the first five passes of a fresh JVM
    warm_passes = 5

    def load(self) -> None:
        super().load()
        self.prepared = prepare_transcripts(self.df)
        self.specs = transcript_specs()

    def arrow_input(self):
        return self.prepared

    def one_pass(self):
        t0 = now()
        if self.tracer.enabled:
            built = self._traced_builds()
        else:
            built = (
                sketch_aggregate(self.prepared, self.specs),
                now(),
                sql_sketch_suite(self.df, self.prepared, warm=False)[0],
            )
        sk, t1, sq = built
        t2 = now()
        check_transcript_suite(self.checks, "map", sk, self.exact, sql=False)
        check_transcript_suite(self.checks, "sql", sq, self.exact, sql=True)
        check_paths_agree(self.checks, sk, sq, self.exact)
        return {"build_s": t1 - t0, "sql_build_s": t2 - t1}

    def _traced_builds(self):
        from associationabacminer_spark.operators.sql_sketch import (
            bloom_from_sql,
            cms_from_sql,
            hll_from_sql,
            kll_from_sql,
            tdigest_from_sql,
        )

        span = self.tracer.span
        with span("suite.prepare"):
            self.prepared.write.format("noop").mode("overwrite").save()
        with span("agg.build"):
            # materialized once, so tree_merge's collect does not rebuild it
            partials = build_sketches(self.prepared, self.specs).localCheckpoint()
        with span("agg.tree_merge"):
            sk = tree_merge(partials, self.specs)
        t1 = now()
        states = partials.agg(F.count("*").alias("n"), F.sum(F.length("sketch")).alias("b"))
        row = states.collect()[0]
        self.layer["agg.partial_states"] = row["n"]
        self.layer["agg.state_bytes"] = row["b"]
        bloom = BloomFilter.from_capacity(2_000_000, 0.01)
        lens = self.df.select(F.length("text").cast("double").alias("text_len"))
        builders = {
            "hll_conv": ("hll", lambda: hll_from_sql(self.df, "conv_id", 14)),
            "cms_tool": ("cms", lambda: cms_from_sql(self.df, "tool", 4096, 5)),
            "kll_len": ("kll", lambda: kll_from_sql(lens, "text_len", 200)),
            "td_latency": (
                "tdigest",
                lambda: tdigest_from_sql(
                    self.prepared.select("latency_s"), "latency_s", 200.0
                ),
            ),
            "bloom_conv": (
                "bloom",
                lambda: bloom_from_sql(self.df, "conv_id", bloom.m, bloom.k),
            ),
        }
        sq = {}
        for name, (kernel, build) in builders.items():
            with span(f"sql_sketch.{kernel}"):
                sq[name] = build()
        return sk, t1, sq


class WindowResume(TranscriptWorkload):
    """Two crash-and-resume cycles per pass over one table: a tumbling
    daily windowed build crashed at ~2/3 of the time range, resumed,
    merged and rolled up to 7-day windows; and a grouped lineage build
    crashed with half its groups in the ledger, then resumed.  Writes
    parquet ledgers, shuffles into applyInPandas and anti-joins on
    resume; kernels are a small share."""

    name = "window_resume"
    base_rows = 40_000
    # the reference builds below warm most of the same code.  A warm-up
    # pass on top steadied the first timed pass, but cost 7-14 s a run,
    # which brought the runs to the edge of their time budget while the
    # host was slow, and it did not narrow the spread between runs
    warm_passes = 0
    groups = 8
    # one partial per core per window at local[2]; the default (8) spends
    # the pass on per-group Python overhead at this input size
    salts = 2
    days = 30
    crash_day = 20

    def load(self) -> None:
        super().load()
        sentinel = next(s for s in transcript_specs() if s.name == "cms_tool").null_value
        self.slim = self.df.select(
            F.xxhash64("conv_id").alias("conv_h"),
            F.when(F.col("tool").isNotNull(), F.xxhash64("tool"))
            .otherwise(F.lit(sentinel))
            .alias("tool_h"),
            F.length("text").cast("double").alias("text_len"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        self.wspecs = [
            s for s in transcript_specs() if s.name in ("hll_conv", "cms_tool", "kll_len")
        ]
        # the lineage cycle reads the same slim columns: no per-conversation
        # window, so a seed's hottest conversation does not set the pass time
        self.lspecs = [
            s for s in transcript_specs(bloom_capacity=200_000) if s.name != "td_latency"
        ]
        # a fixed 30-day range with the crash after day 20, whatever the
        # seed: conversations start uniformly over 30 days from the
        # generator's epoch, and only the tails of long ones run past it
        day = 86400.0
        first = np.floor(self.exact.ts_s[0] / day) * day
        end, cutoff = first + self.days * day, first + self.crash_day * day
        ts = F.col("ts").cast("double")
        self.slim = self.slim.filter(ts < end)
        self.early = self.slim.filter(ts < cutoff)
        self.window_rows = int(np.searchsorted(self.exact.ts_s, end))

    def arrow_input(self):
        return self.slim

    def warm(self) -> None:
        """The uninterrupted builds every resumed pass is compared with."""
        ref = self.path("reference")
        self.ref_folded: dict = {}
        windows = run_windowed_with_lineage(
            self.slim, self.wspecs, os.path.join(ref, "windowed"), "ts", "1 day",
            salts=self.salts, metrics_out=self.ref_folded,
        ).collect()
        self.ref_windows = self._by_window(windows)
        self.ref_lineage = run_with_lineage(
            self.slim, self.lspecs, os.path.join(ref, "lineage"), self.groups
        )
        super().warm()

    def _by_window(self, rows) -> dict:
        deser = {s.name: s.kernel_cls.deserialize for s in self.wspecs}
        return {
            (r["window_start"], r["sketch_name"]): (
                r["row_count"],
                deser[r["sketch_name"]](bytes(r["sketch"])),
            )
            for r in rows
        }

    def one_pass(self):
        span = self.tracer.span
        wl, ll = self.path("windowed_ledger"), self.path("lineage_ledger")
        t0 = now()
        crash = {}
        with span("windowed_sketch.crash"):
            run_windowed_with_lineage(
                self.early, self.wspecs, wl, "ts", "1 day", salts=self.salts,
                metrics_out=crash,
            )
        with span("lineage.crash"):
            build_sketches(
                self.slim, self.lspecs, num_groups=self.groups, method="group"
            ).filter(F.col("group_id") < self.groups // 2).withColumn(
                "run_id", F.lit("crash")
            ).write.mode("overwrite").parquet(os.path.join(ll, "build"))
        t1 = now()
        resume = {}
        with span("windowed_sketch.resume"):
            merged = run_windowed_with_lineage(
                self.slim, self.wspecs, wl, "ts", "1 day", salts=self.salts,
                metrics_out=resume,
            )
        with span("windowed_sketch.merge"):
            windows = merged.collect()
        with span("windowed_sketch.rollup"):
            weekly = rollup_windows(merged, self.wspecs, 7).collect()
        with span("lineage.resume"):
            resumed = run_with_lineage(
                self.slim, self.lspecs, ll, self.groups, run_id="resume"
            )
        t2 = now()
        again = {}
        with span("windowed_sketch.idempotent"):
            run_windowed_with_lineage(
                self.slim, self.wspecs, wl, "ts", "1 day", salts=self.salts,
                metrics_out=again,
            )
        self._check(windows, weekly, resumed, crash, resume, again)
        if self.tracer.enabled:
            self.layer["windowed_sketch.ledger_bytes"] = dir_bytes(wl)
            self.layer["windowed_sketch.resume_rows"] = resume["rows_processed"]
            self.layer["lineage.groups_rebuilt"] = (
                self.spark.read.parquet(os.path.join(ll, "build"))
                .filter(F.col("run_id") == "resume")
                .select("group_id")
                .distinct()
                .count()
            )
        return {"crash_build_s": t1 - t0, "resume_s": t2 - t1}

    def _check(self, windows, weekly, resumed, crash, resume, again) -> None:
        c = self.checks
        got = self._by_window(windows)
        bad = [k for k in self.ref_windows if not self._same_window(got.get(k), self.ref_windows[k])]
        c.check(
            "windowed.resume_matches_uninterrupted",
            not bad and got.keys() == self.ref_windows.keys(),
            bad[:3] or sorted(set(got) ^ set(self.ref_windows))[:3],
        )
        # rows_processed sums each sketch's folded rows; crash and resume
        # together must fold exactly what the uninterrupted build folded
        folded = (crash["rows_processed"], resume["rows_processed"])
        c.check(
            "windowed.resume_folds_only_missing",
            0 < folded[1] < self.ref_folded["rows_processed"]
            and sum(folded) == self.ref_folded["rows_processed"],
            (folded, self.ref_folded["rows_processed"]),
        )
        c.check("windowed.idempotent_rerun", again["rows_processed"] == 0, again)
        weekly_rows = sum(r["row_count"] for r in weekly if r["sketch_name"] == "hll_conv")
        c.check("windowed.rollup_covers_rows", weekly_rows == self.window_rows, weekly_rows)

        ref = self.ref_lineage
        same = (
            resumed["hll_conv"].estimate() == ref["hll_conv"].estimate()
            and (resumed["cms_tool"].table == ref["cms_tool"].table).all()
            and (resumed["bloom_conv"].words == ref["bloom_conv"].words).all()
            and resumed["kll_len"].n == ref["kll_len"].n
        )
        c.check("lineage.resume_matches_uninterrupted", bool(same))
        est = resumed["hll_conv"].estimate()
        c.check(
            "lineage.hll_within_bound",
            abs(est - self.exact.distinct_convs)
            <= hll_tolerance(resumed["hll_conv"], self.exact.distinct_convs),
            (est, self.exact.distinct_convs),
        )

    @staticmethod
    def _same_window(got, ref) -> bool:
        if got is None or got[0] != ref[0]:
            return False
        a, b = got[1], ref[1]
        if hasattr(a, "table"):
            return bool((a.table == b.table).all())
        if hasattr(a, "rank_error"):
            # order-sensitive compaction: same count, and the median's rank
            # interval in the reference (ties are common) within the bound
            v = float(a.quantile(0.5))
            lo = float(b.rank(np.nextafter(v, -np.inf))[0])
            hi = float(b.rank(v)[0])
            return a.n == b.n and lo - 2 * a.rank_error <= 0.5 <= hi + 2 * a.rank_error
        return a.estimate() == b.estimate()

    def after_pass(self) -> None:
        shutil.rmtree(self.path("windowed_ledger"), ignore_errors=True)
        shutil.rmtree(self.path("lineage_ledger"), ignore_errors=True)

    def traced_extras(self, status) -> None:
        """The ingest and dedup layers, probed with one traced ingest pass
        (the ingest workload is not in the benchmark's timed set)."""
        probe = Ingest(self.spark, self.tracer, self.checks, self.path("ingest"), self.seed, 1.0)
        probe.setup()
        probe.load()
        phases = probe.one_pass()
        self.layer.update(probe.layer)
        self.layer["phase.batch_s"] = phases["batch_s"]
        self.layer["ingest.leaked_persisted_rdds"] = status.persisted_rdds()
        status.release_persisted()
        probe.after_pass()
        probe.traced_extras(status)

    def inject_wrong_answer(self) -> None:
        self.window_rows += 1


class Ingest(Workload):
    """Transcript turns become documents, ingested batch by batch into an
    on-disk fingerprint store (read, probe, delta, commit), then one batch
    is re-ingested.  Text and dedup work against a growing store, with
    writes and no sketch kernels."""

    name = "ingest"
    base_rows = 6000  # documents per pass, before the re-ingest
    batches = 3

    def setup(self) -> dict[str, float]:
        t0 = now()
        self.data = write_ingest_batches(
            self.path("docs"), self.seed, self.batches, self.rows // self.batches
        )
        return {"generate_s": now() - t0, "exact_s": 0.0}

    def load(self) -> None:
        self.frames = [self.spark.read.parquet(p) for p in self.data.paths]
        self.params = store_params()

    def scan_input(self):
        return self.frames[0]

    def arrow_input(self):
        return self.frames[0]

    def _ingest(self, batch, store: str, commit: bool) -> set[int]:
        span = self.tracer.span
        with span("ingest.store_read"):
            tables = dedup_store_read(self.spark, store, self.params)
        with span("ingest.probe"):
            survivors = incremental_ingest(batch, tables, "text", "doc_id").toPandas()
        if commit:
            with span("ingest.delta_write"):
                surv_df = self.spark.createDataFrame(survivors, "doc_id long, text string")
                dedup_store_write(
                    ingest_delta(batch, surv_df, "text", "doc_id"), store, self.params
                )
        return set(survivors["doc_id"].tolist())

    def one_pass(self):
        store = self.path("store")
        kept: set[int] = set()
        batch_s = []
        for batch in self.frames:
            t0 = now()
            kept |= self._ingest(batch, store, commit=True)
            batch_s.append(now() - t0)
        again = self._ingest(self.frames[-1], store, commit=False)

        d, c = self.data, self.checks
        leaked_exact = d.planted_exact & kept
        c.check("ingest.planted_exact_dropped", not leaked_exact, sorted(leaked_exact)[:5])
        near_dropped = len(d.planted_near - kept) / max(1, len(d.planted_near))
        c.check("ingest.planted_near_dropped_95pct", near_dropped >= 0.95, near_dropped)
        c.check("ingest.reingest_no_survivors", not again, len(again))
        if self.tracer.enabled:
            planted = d.planted_exact | d.planted_near
            self.layer["ingest.store_bytes"] = dir_bytes(store)
            self.layer["ingest.survivor_ratio"] = len(kept) / d.docs
            self.layer["ingest.planted_drop_ratio"] = len(planted - kept) / max(1, len(planted))
        return {"batch_s": median(batch_s)}

    def after_pass(self) -> None:
        shutil.rmtree(self.path("store"), ignore_errors=True)

    def traced_extras(self, status) -> None:
        from associationabacminer_spark.operators.dedup import minhash_signatures_oph

        p = self.params
        with self.tracer.span("dedup.oph_signatures"):
            minhash_signatures_oph(
                self.frames[0], "text", "doc_id",
                num_buckets=p["num_perm"], n=p["n"], densify=p["densify"],
            ).write.format("noop").mode("overwrite").save()

    def inject_wrong_answer(self) -> None:
        fresh = min(set(range(self.data.docs)) - self.data.planted_exact)
        self.data.planted_exact.add(fresh)


WORKLOADS = {w.name: w for w in (SketchBuild, WindowResume, Ingest)}
