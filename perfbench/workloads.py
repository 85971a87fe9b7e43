"""The three workloads, the read mix they end with, and their checks.

All three are closed loops with one client thread: the next batch is handed
over only after the previous call returned.

- cdc_ingest: JSON-lines batches through ``read_json_cdc`` -> ``merge_into``;
  no maintenance in the timed phase, so the read mix runs on the layout the
  ingest left. After the reads, one maintenance pass repays that debt:
  compact, the fused full optimize, ``maybe_maintain`` with the default
  policy, manifest rewrite, expire + sweep, Iceberg export + mirror expiry.
- maintain: cycles of two parquet batches followed by compact, incremental
  cluster, manifest rewrite, expire + sweep and export + mirror expiry; the
  first cycle also runs the fused full optimize. The read mix runs on the
  maintained, clustered layout.
"""

from __future__ import annotations

import gc
import os
import time
from dataclasses import dataclass

from gen import Model, write_jsonl, write_parquet
from spans import Span, Spans


@dataclass
class Workload:
    batch_events: int
    fmt: str  # how batches are handed over: "json" (REST-style) or "parquet"
    batches_per_cycle: int
    # the phase is fixed work: --seconds / cycle_s cycles (at least
    # min_cycles), which takes about --seconds on a 4-vCPU host. A phase
    # bounded by the clock instead would leave a table of a different size
    # for the read mix whenever the host is slower or faster, and compared
    # commits would not do the same work.
    cycle_s: float
    min_cycles: int


WORKLOADS = {
    "cdc_ingest": Workload(batch_events=2000, fmt="json", batches_per_cycle=1, cycle_s=2.0,
                           min_cycles=1),
    # two cycles at least: the first, with the full optimize, costs more
    # than the later ones
    "maintain": Workload(batch_events=4000, fmt="parquet", batches_per_cycle=2, cycle_s=10.0,
                         min_cycles=2),
}
# untimed merges before the phase: the first merge in a JVM pays one-time
# code generation and Python-worker start (~12 s here); later ones take
# ~3.5, then ~2.5 s and still fall slowly, which the medians absorb. More
# warm-up would not fit the run-time budget.
WARMUP_BATCHES = 1
# final read mix: after one untimed query of each kind (the first one after
# the phase runs ~20 % slower), this many timed samples of each, interleaved
# so that each kind's samples spread over the whole read window
READ_MIX = {"full": 6, "range": 6, "lookup": 12}
RANGE_FRAC = 0.02
CLUSTER_BY = ["phash", "w", "h"]
MIRROR_KEEP = 2
SETTLE_S = 0.5


class Bench:
    """One workload run against one table: calls, checks and counters."""

    def __init__(self, spark, table, model: Model, spans: Spans, run_dir: str, workload: str):
        from moonlink_spark.sources.fixtures import IMAGES_SCHEMA

        self.spark = spark
        self.table = table
        self.model = model
        self.spans = spans
        self.workload = WORKLOADS[workload]
        self.schema = IMAGES_SCHEMA
        self.mirror = os.path.join(run_dir, "mirror")
        self.inputs = os.path.join(run_dir, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.n_batches = 0
        self.events_applied = 0
        self.raw_applied = 0
        self.json_bytes = 0
        self.commit_lat: list[float] = []
        self.probe_frac: list[float] = []
        self.meta_read: list[float] = []
        self.maint_passes_mb: list[float] = []
        self.policy_due: list[bool] = []
        self._seen_snaps: set[int] = set()
        self._seen_files: set[str] = set()
        self.committed_bytes = 0
        self.file_sizes: list[int] = []
        self._n_files = 0

    # --------------------------------------------------------------- calls
    def call(self, layer: str, fn, *args, **kwargs):
        """One library call inside a span; counts attempts and failures."""
        self.attempted += 1
        with self.spans.span(fn.__name__, layer) as sp:
            try:
                out = fn(*args, **kwargs)
            except Exception:
                self.failed += 1
                raise
        return out, sp

    def cycles(self, seconds: float) -> int:
        w = self.workload
        return max(w.min_cycles, round(seconds / w.cycle_s))

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    # --------------------------------------------------------------- inputs
    def apply_batch(self) -> float:
        """Generate, stage and merge one batch; returns its commit latency:
        from handing the batch over until its snapshot is committed."""
        from moonlink_spark.operators.merge import merge_into
        from moonlink_spark.sources.json_cdc import read_json_cdc

        i = self.n_batches
        self.n_batches += 1
        with self.spans.span("stage_batch", "gen"):
            batch = self.model.next_batch(self.workload.batch_events)
            fmt = self.workload.fmt
            path = os.path.join(self.inputs, f"b{i:05d}.{fmt}")
            if fmt == "json":
                self.json_bytes += write_jsonl(self.model.pool, batch, path)
            else:
                write_parquet(self.model.pool, batch, path)
        t0 = time.perf_counter()
        if fmt == "json":
            changes, _ = self.call("sources", read_json_cdc, self.spark, path, self.schema)
        else:
            changes, _ = self.call("sources", self.spark.read.parquet, path)
        res, sp = self.call("merge", merge_into, self.table, changes, run_id=f"b{i}")
        lat = time.perf_counter() - t0
        sp.attrs["matched_keys"] = res.matched_keys
        sp.attrs["events"] = len(batch.events)
        self.events_applied += len(batch.events)
        self.raw_applied += batch.raw_bytes
        if res.matched_keys != batch.expected_matched:
            self.fail(f"batch {i}: matched_keys {res.matched_keys} != model {batch.expected_matched}")
        return lat

    # --------------------------------------------------------------- checks
    def table_state(self) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = self.table.scan(columns=["image_id", "caption"]).agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws("|", "image_id", "caption"))).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"] or 0)

    def check_state(self, where: str) -> None:
        with self.spans.span(f"check:{where}", "check"):
            n, h = self.table_state()
            if (n, h) != (len(self.model.live), self.model.hash):
                self.fail(f"{where}: table (rows {n}, hash {h}) != model "
                          f"(rows {len(self.model.live)}, hash {self.model.hash})")

    def check_mirror(self) -> None:
        from moonlink_spark.iceberg import read_iceberg_scan

        with self.spans.span("check:mirror", "check"):
            n_m = read_iceberg_scan(self.spark, self.mirror).count()
            n_t = self.table.scan().count()
            if n_m != n_t:
                self.fail(f"mirror rows {n_m} != table rows {n_t}")

    def track_commits(self) -> None:
        """Add the bytes of data and delete files first seen in any snapshot
        committed since the last call."""
        with self.spans.span("track_commits", "check"):
            for s in self.table.snapshots():
                if s.snapshot_id in self._seen_snaps:
                    continue
                self._seen_snaps.add(s.snapshot_id)
                if s.operation == "merge" and s.summary.get("total-files"):
                    self.probe_frac.append(s.summary["probed-files"] / s.summary["total-files"])
                t0 = time.perf_counter()
                files = self.table.data_files(s.snapshot_id)
                self.meta_read.append(time.perf_counter() - t0)
                for kind, fs in (("data", files), ("delete", self.table.delete_files(s.snapshot_id))):
                    for f in fs:
                        if f.file_path in self._seen_files:
                            continue
                        self._seen_files.add(f.file_path)
                        self.committed_bytes += f.file_size_bytes
                        if kind == "data":
                            self.file_sizes.append(f.file_size_bytes)

    def start_tracking(self) -> None:
        """Mark everything committed so far (base load, warm-up) as seen and
        zero the phase counters."""
        self.track_commits()
        self.committed_bytes = 0
        self.file_sizes = []
        self.events_applied = self.raw_applied = 0
        self.probe_frac = []
        self.meta_read = []

    def amplification(self) -> dict:
        self.track_commits()
        return dict(write_amp=self.committed_bytes / max(1, self.raw_applied),
                    space_amp=self.root_bytes() / max(1, self.model.raw))

    def root_bytes(self) -> int:
        """All bytes under the table root."""
        with self.spans.span("du", "check"):
            return sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(self.table.root) for f in fs)

    # --------------------------------------------------------------- reads
    def read_full(self) -> float:
        from pyspark.sql import functions as F

        def full_scan():
            return self.table.scan().agg(
                F.count("*").alias("n"), F.sum(F.length("bytes")).alias("b"), F.sum("w").alias("w")
            ).first()

        row, sp = self.call("scan.full", full_scan)
        if row["n"] != len(self.model.live):
            self.fail(f"full scan rows {row['n']} != model {len(self.model.live)}")
        return sp.dur

    def read_range(self) -> float:
        from pyspark.sql import functions as F

        lo, hi, want = self.model.phash_window(RANGE_FRAC)

        def range_query():
            files, sp = self.call("catalog.plan", self.table.plan_files, {"phash": (lo, hi)})
            sp.attrs.update(kind="range", file_frac=len(files) / self._n_files)
            return self.table.scan(files=files).filter(F.col("phash").between(lo, hi)).agg(
                F.count("*").alias("n"), F.sum(F.length("bytes")).alias("b")).first()

        row, sp = self.call("scan.range", range_query)
        if row["n"] != want:
            self.fail(f"range [{lo}, {hi}] rows {row['n']} != model {want}")
        return sp.dur

    def read_lookup(self) -> float:
        from pyspark.sql import functions as F

        from gen import image_id

        seq = self.model.live_key()
        key, want = image_id(seq), self.model.row_caption(seq)

        def lookup():
            files, sp = self.call("catalog.plan", self.table.plan_files, {"image_id": (key, key)})
            sp.attrs.update(kind="lookup", file_frac=len(files) / self._n_files)
            return self.table.scan(files=files).filter(F.col("image_id") == key).select(
                "image_id", "caption", "bytes").collect()

        rows, sp = self.call("scan.lookup", lookup)
        if [r["caption"] for r in rows] != [want]:
            self.fail(f"lookup {key}: {[r['caption'] for r in rows]} != [{want!r}]")
        return sp.dur

    def settle(self) -> None:
        """Collect garbage in the driver and the JVM before a timed part, so
        that cleanup left over from the previous part does not land in it."""
        with self.spans.span("settle", "check"):
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(SETTLE_S)

    def read_mix(self) -> dict[str, list[float]]:
        self._n_files = len(self.table.data_files())  # the reads change nothing
        out: dict[str, list[float]] = {kind: [] for kind in READ_MIX}
        for kind in READ_MIX:
            with self.spans.span(f"warm:{kind}"):
                getattr(self, f"read_{kind}")()
        # query i of a kind with n samples runs at fraction (i + 0.5) / n
        order = sorted(((i + 0.5) / n, kind) for kind, n in READ_MIX.items() for i in range(n))
        for _, kind in order:
            out[kind].append(getattr(self, f"read_{kind}")())
        return out

    # ---------------------------------------------------------- maintenance
    def _data_files(self) -> dict[str, int]:
        with self.spans.span("list_files", "check"):
            return {f.file_path: f.file_size_bytes for f in self.table.data_files()}

    def maint(self, layer: str, fn, *args, check: bool = True, **kwargs):
        """A maintenance call: timed and diffed (files in/out). When it
        committed a snapshot or removed something, the table must still hold
        the model's rows."""
        before = self._data_files()
        sid = self.table.current_snapshot_id()
        out, sp = self.call(layer, fn, *args, **kwargs)
        after = self._data_files()
        gone, new = before.keys() - after.keys(), after.keys() - before.keys()
        sp.attrs.update(maintenance=True, files_in=len(gone), files_out=len(new),
                        mb_read=sum(before[p] for p in gone) / 1e6,
                        mb_written=sum(after[p] for p in new) / 1e6)
        changed = self.table.current_snapshot_id() != sid or (isinstance(out, list) and out)
        if check and changed:
            self.check_state(f"after {layer}")
        return out, sp

    def compact(self, run_id: str) -> None:
        from moonlink_spark.operators.compaction import CompactionConfig, compact

        self.maint("compact", compact, self.table, CompactionConfig(mode="best_effort"),
                   run_id=run_id)

    def cluster_incremental(self, run_id: str) -> None:
        from moonlink_spark.operators.clustering import cluster

        self.maint("cluster", cluster, self.table, by=CLUSTER_BY, run_id=run_id, scope="incremental")

    def optimize_full(self, run_id: str) -> None:
        from moonlink_spark.operators.optimize import optimize

        _, sp = self.maint("cluster", optimize, self.table, mode="full", cluster_by=CLUSTER_BY,
                           run_id=run_id)
        sp.attrs["full"] = True

    def rewrite_manifests(self) -> None:
        from moonlink_spark.operators.manifest_rewrite import rewrite_manifests

        self.maint("manifest_rewrite", rewrite_manifests, self.table)

    def expire_and_sweep(self) -> None:
        from moonlink_spark.operators.expire import expire_snapshots, sweep_orphans

        expired, sp = self.maint("expire", expire_snapshots, self.table, retain_last=1)
        sp.attrs["removed"] = len(expired)
        mb0 = self.root_bytes() / 1e6
        swept, sp = self.maint("sweep", sweep_orphans, self.table, quarantine=False,
                               older_than_seconds=0.0)
        sp.attrs.update(removed=len(swept), mb_freed=mb0 - self.root_bytes() / 1e6)

    def export(self) -> None:
        from moonlink_spark.iceberg import expire_iceberg_mirror, export_iceberg

        self.maint("export", export_iceberg, self.table, self.mirror, check=False)
        self.maint("mirror_expire", expire_iceberg_mirror, self.spark, self.mirror,
                   keep_last=MIRROR_KEEP, source_table=self.table, check=False)

    def maybe_maintain(self, policy, run_id: str) -> None:
        from moonlink_spark.streaming.ingest import maybe_maintain

        sid, _ = self.maint("cluster", maybe_maintain, self.table, policy, run_id=run_id)
        self.policy_due.append(sid is not None)

    def maintenance_pass(self, run_id: str, full: bool = False, policy=None) -> None:
        """One pass of every maintenance op: compact, then (*full*) the fused
        full optimize, then incremental clustering, or left to *policy* when
        one is given, then manifests, expiry and the Iceberg export."""
        self.maint_passes_mb.append(self.model.raw / 1e6)
        self.compact(f"{run_id}-c")
        if full:
            self.optimize_full(f"{run_id}-full")
        if policy is None:
            self.cluster_incremental(f"{run_id}-ci")
        else:
            self.maybe_maintain(policy, f"{run_id}-ci")
        self.rewrite_manifests()
        self.expire_and_sweep()
        self.export()
        self.track_commits()


# ------------------------------------------------------------- workloads
def run_cdc_ingest(b: Bench, seconds: float) -> dict:
    from moonlink_spark.streaming.ingest import MaintenancePolicy

    b.start_tracking()
    b.settle()
    with b.spans.span("phase") as phase:
        for _ in range(b.cycles(seconds)):
            b.commit_lat.append(b.apply_batch())
            b.track_commits()
    b.check_state("end of phase")
    amps = b.amplification()
    b.settle()
    with b.spans.span("reads") as reads_sp:
        reads = b.read_mix()
    with b.spans.span("repay") as repay:
        b.maintenance_pass("repay", full=True, policy=MaintenancePolicy())
    b.check_mirror()
    return dict(phase=phase, reads=reads, reads_span=reads_sp, maint_span=repay, **amps)


def run_maintain(b: Bench, seconds: float) -> dict:
    b.start_tracking()
    b.settle()
    with b.spans.span("phase") as phase:
        for cycle in range(b.cycles(seconds)):
            with b.spans.span(f"cycle{cycle}"):
                for _ in range(b.workload.batches_per_cycle):
                    b.commit_lat.append(b.apply_batch())
                b.maintenance_pass(f"m{cycle}", full=cycle == 0)
    b.check_state("end of phase")
    amps = b.amplification()
    b.check_mirror()
    b.settle()
    with b.spans.span("reads") as reads_sp:
        reads = b.read_mix()
    return dict(phase=phase, reads=reads, reads_span=reads_sp, maint_span=phase, **amps)


def maint_seconds(spans: Spans, within: Span) -> float:
    return sum(s.dur for s in spans.spans if s.attrs.get("maintenance") and spans.inside(s, within))


RUNNERS = {"cdc_ingest": run_cdc_ingest, "maintain": run_maintain}
