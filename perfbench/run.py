"""CDC ingest benchmark for geopetl_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cow_bulk_skewed --seed 1 --seconds 12 --trace 0

One process, one sequential client (a closed loop), ``local[<nproc>]``. The
engine is driven only through its public calls and each call is timed from
outside. Every run checks the lake's final live state against a DuckDB
latest-per-key reference over the same log, each lookup and changelog read
against the log, and ``checksum()`` across every ``compact()``.

``--trace 0`` prints the end-to-end metrics, with timings scaled to a nominal
host speed (see ``NOMINAL_REFERENCE_S``). ``--trace 1`` runs the same loop
with Spark's event log on, span ids attached to every Spark job, and spans
around ``read_epoch``, ``apply_epoch``, ``LakeTable.merge``,
``Checkpoint.save`` and ``LineageLog.record``; it prints the per-layer
metrics (see ``perfbench/LAYERS.md``). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.

Everything the run writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from geopetl_spark import LakeTable, get_spark  # noqa: E402
from geopetl_spark.lake.cursor import ConsumerCursor  # noqa: E402
from geopetl_spark.run import DOC_SCHEMA  # noqa: E402
from geopetl_spark.streaming import pipeline  # noqa: E402
from geopetl_spark.streaming.checkpoint import Checkpoint  # noqa: E402
from geopetl_spark.streaming.lineage import LineageLog  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.cdclog import LogSpec, ensure_log  # noqa: E402
from perfbench.trace import Spans, wrapped  # noqa: E402

T_IMPORTED = time.time()

WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "3g"
SETUP_REPS = 3
LOOKUPS_PER_EPOCH = 2
FIRST_TIMED_EPOCH = 2  # epoch 0 in each set-up, epoch 1 warms the merge into a populated table
FIXED_EPOCHS = 3  # exact per-epoch counts are taken over the first timed epochs
# Host-speed reference: a fixed JVM-only Spark job (one scan stage, hashing,
# no shuffle by key, so it does not depend on the engine's SQL settings) run
# between operations, outside every timed call. Timings are reported as
# seconds on a host where this job takes NOMINAL_REFERENCE_S: a shared host's
# speed can swing about 2x over minutes, and a whole run sits inside one swing.
REFERENCE_ROWS = 4_000_000
REFERENCE_REPEATS = 2
NOMINAL_REFERENCE_S = 0.1


@dataclass(frozen=True)
class Workload:
    strategy: str
    spec: LogSpec
    n_buckets: int
    catch_up: bool  # run_ingest (catch-up) vs the foreachBatch shape
    compact_every: int  # 0: never compact
    reads_during_ingest: bool  # subscriber poll + lookups after each epoch, else after the loop


WORKLOADS = {
    "cow_bulk_skewed": Workload(
        strategy="cow",
        spec=LogSpec(n_epochs=8, events_per_epoch=100_000, n_keys=20_000, n_hot=7, hot_fraction=0.15),
        n_buckets=16,
        catch_up=True,
        compact_every=0,
        reads_during_ingest=False,
    ),
    "mor_trickle_tail": Workload(
        strategy="mor",
        spec=LogSpec(n_epochs=14, events_per_epoch=20_000, n_keys=20_000),
        n_buckets=8,
        catch_up=False,
        compact_every=3,
        reads_during_ingest=True,
    ),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "epoch_commit_s_p50": "s",
    "changelog_read_s_p50": "s",
    "lookup_s_p50": "s",
    "stored_bytes_per_live_row": "bytes",
    "peak_rss_mb": "MB",
}


class CheckFailed(Exception):
    """An engine output disagreed with the reference."""


def host_line(when: str) -> str:
    """nproc, loadavg and a 0.2 s single-thread speed probe, so that a run
    on a loaded or throttled host is visible in its output."""
    with open("/proc/loadavg") as fh:
        load = " ".join(fh.read().split()[:3])
    n, end = 0, time.perf_counter() + 0.2
    while time.perf_counter() < end:
        n += 1
    return f"# host {when}: nproc={os.cpu_count()} loadavg={load} probe={n / 0.2 / 1e6:.2f}M loops/s"


class Reference:
    """DuckDB views over the generated log: per-epoch counts, point lookups
    and the latest-per-key live state."""

    def __init__(self, log_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            f"""CREATE VIEW ev AS SELECT *, CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END AS op_rank
                FROM read_parquet('{log_dir}/*/*.parquet', hive_partitioning = true)"""
        )
        rows = self.con.execute(
            "SELECT _epoch_part, count(*), count(DISTINCT doc_id) FROM ev GROUP BY 1"
        ).fetchall()
        self.events = {int(e): int(n) for e, n, _ in rows}
        self.keys = {int(e): int(k) for e, _, k in rows}

    def _latest(self, last_epoch: int, where: str = "TRUE") -> str:
        return f"""SELECT doc_id, tokens, n_tok, source, lsn AS _lsn, op FROM ev
                   WHERE _epoch_part <= {int(last_epoch)} AND {where}
                   QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC, commit_ts DESC, op_rank DESC) = 1"""

    def lookup(self, keys: list[str], last_epoch: int) -> dict[str, list[tuple]]:
        """Live rows per key as of ``last_epoch``."""
        out: dict[str, list[tuple]] = {k: [] for k in keys}
        rows = self.con.execute(
            f"SELECT doc_id, tokens, n_tok, source FROM ({self._latest(last_epoch, 'list_contains($k, doc_id)')}) "
            "WHERE op <> 'D'",
            {"k": keys},
        ).fetchall()
        for d, t, n, src in rows:
            out[d].append((d, list(t), n, src))
        return out

    def state_mismatches(self, lake_arrow, last_epoch: int) -> tuple[int, int, int]:
        """(reference live rows, lake live rows, rows that differ)."""
        self.con.register("lake", lake_arrow)
        try:
            ref = f"SELECT * FROM ({self._latest(last_epoch)}) WHERE op <> 'D'"
            n_ref = self.con.execute(f"SELECT count(*) FROM ({ref})").fetchone()[0]
            n_lake = self.con.execute("SELECT count(*) FROM lake").fetchone()[0]
            bad = self.con.execute(
                f"""SELECT count(*) FROM ({ref}) r FULL OUTER JOIN lake l ON r.doc_id = l.doc_id
                    WHERE r.doc_id IS NULL OR l.doc_id IS NULL
                       OR r.tokens IS DISTINCT FROM l.tokens OR r.n_tok IS DISTINCT FROM l.n_tok
                       OR r.source IS DISTINCT FROM l.source OR r._lsn IS DISTINCT FROM l._lsn"""
            ).fetchone()[0]
        finally:
            self.con.unregister("lake")
        return int(n_ref), int(n_lake), int(bad)


def data_dirs(table: LakeTable) -> set[str]:
    """Every base and delta directory the current manifest references."""
    m = table.manifest()
    return {d for group in (m["buckets"], m.get("deltas") or {}) for ds in group.values() for d in ds}


def stored_bytes(table: LakeTable) -> int:
    total = 0
    for d in data_dirs(table):
        with os.scandir(d) as it:
            total += sum(e.stat().st_size for e in it if e.name.endswith(".parquet"))
    return total


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def reference_s(spark) -> float:
    """Wall time of one run of the host-speed reference job."""
    t0 = time.perf_counter()
    spark.range(0, REFERENCE_ROWS, 1, os.cpu_count()).select(F.max(F.xxhash64("id"))).collect()
    return time.perf_counter() - t0


def codegen(spark) -> tuple[float, int]:
    """(total codegen compile seconds, number of compilations) so far."""
    jvm = spark._jvm
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return ns / 1e9, int(n)


class Bench:
    def __init__(self, name: str, wl: Workload, seed: int, seconds: int, trace: bool):
        self.name, self.wl, self.seed, self.seconds, self.trace = name, wl, seed, seconds, trace
        self.run_dir = os.path.join(WORK, "runs", f"{name}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spans = Spans()
        self.epoch_results: dict[int, object] = {}
        self.samples: dict[str, list[float]] = {}
        self.stored: tuple[int, int] | None = None
        self.compactions: list[dict] = []
        self.changes_rows: list[int] = []
        self.epoch_files: dict[int, int] = {}
        self.last_epoch = -1
        self.reference: list[float] = []
        self.work = WORK
        self.fixed_epochs = FIXED_EPOCHS

    # ------------------------------------------------------------ plumbing

    def op(self, kind: str, fn, fatal: bool = False) -> bool:
        """Run one operation; an exception or failed check is one failure."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # noqa: BLE001 - every failure is counted and reported
            self.failed += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            if fatal:
                raise
            return False

    def session(self):
        local = os.path.join(WORK, "spark-local")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        }
        if self.trace:
            ev = os.path.join(self.run_dir, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + ev,
                    "spark.eventLog.compress": "false",
                }
            )
        return get_spark(app_name=f"perfbench-{self.name}", master=f"local[{os.cpu_count()}]", extra_conf=conf)

    def fresh_table(self, rep: int):
        d = os.path.join(self.run_dir, f"rep{rep}")
        self.table_path, self.ckpt_path = os.path.join(d, "table"), os.path.join(d, "ckpt")
        self.table = LakeTable(self.spark, self.table_path).create(
            DOC_SCHEMA, key_col="doc_id", n_buckets=self.wl.n_buckets
        )
        self.cfg = pipeline.IngestConfig(
            log_path=self.log_dir,
            table_path=self.table_path,
            checkpoint_path=self.ckpt_path,
            merge_strategy=self.wl.strategy,
        )
        self.ckpt = Checkpoint(self.ckpt_path)
        self.lineage = LineageLog(self.ckpt_path)

    # ------------------------------------------------------------ operations

    def apply(self, e: int) -> None:
        with self.spans.span("epoch", epoch=e) as sp:
            if self.wl.catch_up:
                res = pipeline.run_ingest(self.spark, self.cfg, max_epochs=1)
                if len(res) != 1 or res[0].epoch != e:
                    raise CheckFailed(f"run_ingest applied {[r.epoch for r in res]}, expected [{e}]")
                res = res[0]
            else:
                batch = pipeline.read_epoch(self.spark, self.log_dir, e)
                res = pipeline.apply_epoch(self.spark, self.cfg, self.table, batch, e, self.lineage)
                self.ckpt.save(last_epoch=e, offsets={"log_path": self.log_dir})
        if res.rows != self.ref.events[e]:
            raise CheckFailed(f"epoch {e}: engine saw {res.rows} events, log has {self.ref.events[e]}")
        self.epoch_results[e] = res
        sp.attrs["events"] = res.rows
        self.last_epoch = e

    def consume(self) -> None:
        """One subscriber poll: tail the changelog from the consumer cursor,
        counting each yielded commit's frame."""
        since = self.cursor.load()
        it = self.table.iter_changes(0 if since is None else since)
        while True:
            with self.spans.span("changes") as sp:
                with self.spans.span("changes.iter"):
                    item = next(it, None)
                if item is None:
                    sp.attrs["empty"] = True
                    return
                version, df, summary = item
                with self.spans.span("changes.count"):
                    n = df.count()
            self.cursor.advance(version)
            self.changes_rows.append(n)
            expected = self.ref.keys.get(summary.get("epoch_id"))
            if n != expected:
                raise CheckFailed(f"changes v{version}: {n} rows, expected {expected}")

    def lookups(self, epochs: list[int]) -> None:
        """LOOKUPS_PER_EPOCH point lookups on keys of each epoch, one
        operation each, checked together against the reference."""
        keys = [self.lookup_key(e, i) for e in epochs for i in range(LOOKUPS_PER_EPOCH)]
        deltas = sum(len(v) for v in (self.table.manifest().get("deltas") or {}).values())
        got: dict[str, list[tuple]] = {}

        def one(key: str) -> None:
            with self.spans.span("lookup", key=key, delta_dirs=deltas):
                rows = self.table.read(where=f"doc_id = '{key}'").collect()
            got[key] = [(r["doc_id"], list(r["tokens"]), r["n_tok"], r["source"]) for r in rows]

        for key in keys:
            self.op("lookup", lambda: one(key))
        want = self.ref.lookup(sorted(got), self.last_epoch)
        for key, rows in got.items():
            if rows != want[key]:
                self.failed += 1
                self.failures.append(f"lookup {key} after epoch {self.last_epoch}: {rows[:1]} != {want[key][:1]}")

    def lookup_key(self, e: int, i: int) -> str:
        rng = np.random.default_rng([self.seed, e, i])
        # hot keys are looked up as often as they occur in the log
        if self.wl.spec.n_hot and rng.random() < self.wl.spec.hot_fraction:
            return f"doc-{int(rng.integers(self.wl.spec.n_hot)):08d}"
        t = pq.read_table(os.path.join(self.log_dir, f"_epoch_part={e}"), columns=["doc_id", "op"])
        live = [d for d, o in zip(t.column("doc_id").to_pylist(), t.column("op").to_pylist()) if o != "D"]
        return live[int(rng.integers(len(live)))]

    def sample_reference(self) -> None:
        with self.spans.span("reference"):
            self.reference.extend(reference_s(self.spark) for _ in range(REFERENCE_REPEATS))

    def compact(self) -> None:
        with self.spans.span("check"):
            before = self.table.checksum()
        with self.spans.span("compact"):
            summary = self.table.compact()
        with self.spans.span("check"):
            after = self.table.checksum()
        self.compactions.append(summary)
        if before != after:
            raise CheckFailed(f"compact() changed checksum {before} -> {after}")

    # ------------------------------------------------------------ phases

    def setup(self) -> None:
        """SETUP_REPS times: create a fresh table and apply epoch 0 to it; the
        first time also starts the session. Then one untimed warm-up epoch
        merges into the populated table, and the timed loop continues on it."""
        for rep in range(SETUP_REPS):
            t0 = time.time()
            with self.spans.span("setup", rep=rep):
                if rep == 0:
                    self.spark = self.session()
                    if self.trace:
                        self.spans.sc = self.spark.sparkContext
                self.fresh_table(rep)
                self.op("epoch", lambda: self.apply(0), fatal=True)
            took = time.time() - t0
            if rep == 0:
                took += T_IMPORTED - T_PROCESS
            self.samples.setdefault("setup_s", []).append(took)
            self.sample_reference()
        with self.spans.span("warmup"):
            for e in range(1, FIRST_TIMED_EPOCH):
                self.op("epoch", lambda: self.apply(e), fatal=True)
        # the subscriber starts with the table, so it also reads the warm-up commits
        self.cursor = ConsumerCursor(os.path.join(self.run_dir, "consumer", "cursor.json"))

    def timed_loop(self) -> None:
        """Epochs until ``seconds`` have passed (and at least one compaction
        cycle and ``FIXED_EPOCHS`` epochs have run), each followed (when reads
        run during ingest) by one subscriber poll and one lookup, and every
        ``compact_every`` epochs by a compaction. Otherwise the subscriber
        catches up and the lookups run once the loop is over."""
        k = self.wl.compact_every
        self.timed_epochs: list[int] = []
        self.loop_start = time.time()
        deadline = self.loop_start + self.seconds
        min_epochs = max(k, FIXED_EPOCHS)  # one whole compaction cycle; the fixed-count epochs
        for e in range(FIRST_TIMED_EPOCH, self.wl.spec.n_epochs):
            if time.time() >= deadline and len(self.timed_epochs) >= min_epochs:
                break
            before = data_dirs(self.table) if self.trace else None
            if not self.op("epoch", lambda: self.apply(e)):
                break
            self.timed_epochs.append(e)
            if self.trace:
                self.epoch_files[e] = self.count_files(data_dirs(self.table) - before)
            if self.wl.reads_during_ingest:
                self.op("changes", self.consume)
                self.lookups([e])
            self.sample_reference()
            n = len(self.timed_epochs)
            if not k and n == FIXED_EPOCHS:
                self.stored = (stored_bytes(self.table), self.live_rows())
            if k and n % k == 0:
                bytes_before = stored_bytes(self.table)
                if self.op("compact", self.compact) and self.stored is None:
                    # MoR: the delta backlog at its peak, just before the
                    # first compaction; compaction preserves the live count
                    self.stored = (bytes_before, int(self.compactions[-1]["total_rows"]))
        else:
            print(f"# note: log exhausted after {len(self.timed_epochs)} timed epochs", flush=True)
        self.loop_end = time.time()
        if not self.wl.reads_during_ingest:
            self.op("changes", self.consume)
            self.lookups(self.timed_epochs)
        if self.stored is None:
            self.stored = (stored_bytes(self.table), self.table.count())

    def live_rows(self) -> int:
        live = self.table.manifest()["summary"].get("total_rows")
        if live is None:
            raise CheckFailed("CoW manifest carries no live-row total")
        return int(live)

    @staticmethod
    def count_files(dirs) -> int:
        return sum(1 for d in dirs for f in os.listdir(d) if f.endswith(".parquet"))

    def check_state(self) -> None:
        df = (
            self.table.read(include_system=True)
            .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            .select("doc_id", "tokens", "n_tok", "source", "_lsn")
        )
        n_ref, n_lake, bad = self.ref.state_mismatches(df.toArrow(), self.last_epoch)
        print(f"# state check: reference {n_ref} live rows, lake {n_lake}, differing {bad}", flush=True)
        if bad or n_ref != n_lake:
            raise CheckFailed(f"live state differs from reference: ref={n_ref} lake={n_lake} differing={bad}")

    # ------------------------------------------------------------ run

    def run(self) -> dict:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        t_prep = time.time()
        self.log_dir, fp, gen_s = ensure_log(os.path.join(WORK, "inputs"), self.wl.spec, self.seed)
        self.ref = Reference(self.log_dir)
        print(
            f"# input: {fp['rows']} events in {self.wl.spec.n_epochs} epochs, fingerprint {fp['hash']}, "
            f"generated in {gen_s:.1f}s, prepared in {time.time() - t_prep:.1f}s",
            flush=True,
        )
        targets = [
            (pipeline, "read_epoch", "read_epoch"),
            (pipeline, "apply_epoch", "apply_epoch"),
            (LakeTable, "merge", "merge"),
            (Checkpoint, "save", "checkpoint.save"),
            (LineageLog, "record", "lineage.record"),
        ]
        try:
            with wrapped(self.spans, targets if self.trace else []):
                t_setup = time.time()
                self.setup()
                cg_setup = codegen(self.spark) if self.trace else None
                print(
                    f"# versions: java {self.spark._jvm.java.lang.System.getProperty('java.version')}, "
                    f"pyspark {pyspark.__version__}, master {self.spark.sparkContext.master}, "
                    f"driver memory {self.spark.sparkContext.getConf().get('spark.driver.memory')}",
                    flush=True,
                )
                self.timed_loop()
                cg_end = codegen(self.spark) if self.trace else None
                self.op("state_check", self.check_state)
                self.samples["peak_rss_mb"] = [jvm_peak_rss_mb(self.spark)]
                t_check = time.time()
        finally:
            self.stop_spark()
            self.ref.con.close()
        print(
            f"# phases (s): prepare {t_setup - t_prep:.1f}, setup {self.loop_start - t_setup:.1f} "
            f"(reps {', '.join(f'{x:.1f}' for x in self.samples['setup_s'])}), "
            f"timed loop {self.loop_end - self.loop_start:.1f} ({len(self.timed_epochs)} epochs), "
            f"checks {t_check - self.loop_end:.1f}, stop {time.time() - t_check:.1f}",
            flush=True,
        )
        for name in ("epoch", "changes", "lookup", "compact"):
            durs = [sp.dur_s for sp in self.spans.named(name) if not sp.attrs.get("empty")]
            print(f"# {name} seconds: {' '.join(f'{d:.2f}' for d in durs)}", flush=True)
        e2e = self.end_to_end()
        if not self.trace:
            return e2e
        return layers.fold(self, e2e, cg_setup, cg_end)

    def stop_spark(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def end_to_end(self) -> dict:
        """The gated metrics; timings are scaled to the nominal host speed
        (see NOMINAL_REFERENCE_S), the measured values are printed too."""
        epoch_s = [s.dur_s for s in self.spans.named("epoch") if s.attrs["epoch"] in set(self.timed_epochs)]
        compact_s = [s.dur_s for s in self.spans.named("compact")]
        ingest_s = sum(epoch_s) + (sum(compact_s) if self.wl.compact_every else 0.0)
        events = sum(self.epoch_results[e].rows for e in self.timed_epochs)
        bytes_, live = self.stored
        raw = {
            "setup_s": statistics.median(self.samples["setup_s"]),
            "ingest_events_per_s": events / ingest_s,
            "epoch_commit_s_p50": statistics.median(epoch_s),
            "changelog_read_s_p50": statistics.median(
                s.dur_s for s in self.spans.named("changes") if not s.attrs.get("empty")
            ),
            "lookup_s_p50": statistics.median(s.dur_s for s in self.spans.named("lookup")),
        }
        ref = statistics.median(self.reference)
        scale = NOMINAL_REFERENCE_S / ref
        print(
            f"# measured: {', '.join(f'{k} {v:.6g}' for k, v in raw.items())}; "
            f"reference job median {ref:.4f}s over {len(self.reference)} runs, scale {scale:.4f}",
            flush=True,
        )
        adjusted = {k: (v / scale if k == "ingest_events_per_s" else v * scale) for k, v in raw.items()}
        return {
            **adjusted,
            "stored_bytes_per_live_row": bytes_ / live,
            "peak_rss_mb": self.samples["peak_rss_mb"][0],
        }


def pin_environment() -> None:
    for sub in ("spark-local", "tmp", "warehouse", "inputs", "runs", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    pin_environment()
    print(host_line("before"), flush=True)
    bench = Bench(args.workload, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    try:
        metrics = bench.run()
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(host_line("after"), flush=True)
    for f in bench.failures:
        print(f"# FAILED {f}", flush=True)
    if not args.trace:
        layers.save_untraced(WORK, args.workload, args.seed, metrics)
    units = END_TO_END_UNITS if not args.trace else layers.UNITS
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
