"""The Spark half of the benchmark: session set-up, timed passes, the
correctness gate, process-tree CPU and worker memory from ``/proc``, and
per-layer Spark metrics read from the live application's REST API.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _proc_tree() -> list[int]:
    """This process and all of its live descendants (JVM, Python daemon,
    Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of the process tree, reaped children included
    (a worker that exits is folded into its parent's cutime/cstime)."""
    total = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cu cs
    return total / CLK_TCK


def worker_hwm_kb() -> int:
    """Largest VmHWM over the live Python worker processes."""
    peak = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak


# ---------------------------------------------------------------- session


def start_session(root: str, cores: int):
    """A local[cores] session with the engine's own config set
    (``session_configs``), overriding only what this host needs: scratch
    files under the checkout, a 2 GB JVM heap, no progress bar."""
    from pyspark.sql import SparkSession

    from unfurl_spark.operators.pipeline import session_configs

    scratch = os.path.join(root, ".bench_data")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    master = f"local[{cores}]"
    conf = session_configs("local", master=master)
    conf.update({
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    })
    b = SparkSession.builder.master(master).appName("unfurl_perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, root: str, cores: int) -> list[str]:
    """Start every Python worker slot, import the engine in it, and return
    the ``unfurl_spark`` file each worker imported."""
    def probe(batches):
        import pyarrow as pa

        import unfurl_spark
        import unfurl_spark.functions.engine  # noqa: F401

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([unfurl_spark.__file__] * b.num_rows)],
                names=["file"])

    rows = (spark.range(0, cores, 1, numPartitions=cores)
            .mapInArrow(probe, "file string").toArrow())
    return rows.column("file").to_pylist()


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- passes


class Workload:
    """One workload's Spark plan over its inputs."""

    def __init__(self, name: str, spark, paths: dict, cores: int):
        self.name = name
        self.spark = spark
        self.paths = paths
        self.cores = cores
        read = spark.read.parquet
        self.media = read(paths["media_payloads"])
        if name != "media_decode":
            self.docs = read(paths["documents_raw"])
            self.oembed = read(paths["oembed_docs"])
        self.side = None

    def build_side_tables(self) -> float:
        from unfurl_spark.operators.pipeline import broadcast_side_tables

        t = time.perf_counter()
        self.side = broadcast_side_tables(self.spark, self.oembed, self.media)
        return time.perf_counter() - t

    def plan(self, regime: str | None = None):
        from unfurl_spark.functions.multimodal import decode_media
        from unfurl_spark.operators.pipeline import (
            extract_spans,
            extract_spans_media_join,
        )

        regime = regime or self.name
        if regime == "extract_broadcast":
            return extract_spans(self.docs, side=self.side)
        if regime == "extract_join":
            return extract_spans_media_join(
                self.docs, self.media, oembed_df=self.oembed,
                join_oembed=True)
        return decode_media(self.media, num_partitions=self.cores)

    def run_pass(self, label: str) -> tuple[float, float]:
        """One timed pass into Spark's no-op sink → (wall s, tree CPU s)."""
        self.spark.sparkContext.setJobDescription(label)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        self.plan().write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        return wall, tree_cpu_s() - c0

    # ------------------------------------------------------------ gate

    def check(self) -> tuple[int, int, dict]:
        """Untimed correctness gate → (attempted, failed, detail)."""
        self.spark.sparkContext.setJobDescription("correctness")
        if self.name == "media_decode":
            return self._check_media()
        return self._check_extract()

    def _span_hashes(self, df) -> dict:
        from pyspark.sql import functions as F

        cols = ["doc_id", F.xxhash64("spans").alias("h")]
        if "ok" in df.columns:
            cols.append("ok")
        t = df.select(*cols).toArrow().to_pydict()
        oks = t.get("ok", [None] * len(t["doc_id"]))
        out: dict = {}
        for d, h, ok in zip(t["doc_id"], t["h"], oks):
            out.setdefault(d, []).append((h, ok))
        return out

    def _check_extract(self):
        want = self._span_hashes(self.spark.read.parquet(
            self.paths["expected_spans"]))
        got = self._span_hashes(self.plan())
        bad = {d for d in set(want) | set(got)
               if d not in want or got.get(d) != [(want[d][0][0], "ok")]}
        detail = {"vs_expected": len(bad)}
        if self.name == "extract_join":
            # the other regime over the same rows: per-doc span hash and
            # ok must be identical
            self.build_side_tables()
            other = self._span_hashes(self.plan("extract_broadcast"))
            cross = {d for d in set(got) | set(other)
                     if got.get(d) != other.get(d)}
            detail["vs_broadcast"] = len(cross)
            bad |= cross
        return len(want), len(bad), detail

    def _check_media(self):
        from inputs import expected_media

        want = expected_media(self.paths)
        t = self.plan().toArrow().to_pydict()
        seen: dict = {}
        for ref, w, h, n, ok in zip(t["media_ref"], t["width"], t["height"],
                                    t["n_bytes"], t["ok"]):
            seen.setdefault(ref, []).append((w, h, n, ok))
        bad = 0
        for ref in set(want) | set(seen):
            rows = seen.get(ref, [])
            if ref not in want or len(rows) != 1:
                bad += 1
                continue
            ctype, n_bytes, ew, eh = want[ref]
            w, h, n, ok = rows[0]
            if n != n_bytes or (ctype == "image/png"
                                and (w, h, ok) != (ew, eh, "ok")):
                bad += 1
        return len(want), bad, {"vs_generated": bad}


# ---------------------------------------------------------------- REST

_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def _num(tok: str) -> float:
    """'4.9 s' → 4900 (ms), '2.3 MiB' → bytes, '8,000' → 8000."""
    parts = tok.strip().split()
    if len(parts) == 2:
        return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
    return float(parts[0].replace(",", ""))


def _metric(value: str) -> tuple[float, int | None]:
    """A formatted SQL metric → (total, stage id).  Only metrics summed
    over several tasks name a stage (the one holding the max task)."""
    line = value.split("\n")[-1]
    m = re.match(r"(.+?) \(.+\(stage (\d+)\.\d+", line)
    if not m:
        return _num(line), None
    return _num(m[1]), int(m[2])


class Rest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def pass_layers(self, labels: list[str], n_rows: int) -> list[dict]:
        """Per-pass Spark layer metrics for the SQL executions run under
        ``labels`` (job descriptions)."""
        sql = {e["description"]: e
               for e in self.get("sql?details=true&length=100000")}
        jobs = {j["jobId"]: j for j in self.get("jobs")}
        stages = {s["stageId"]: s for s in self.get("stages")
                  if s["status"] == "COMPLETE"}
        out = []
        for label in labels:
            ex = sql[label]
            lay = dict.fromkeys(("arrow_boot_ms", "arrow_init_ms",
                                 "arrow_run_ms", "arrow_bytes_sent",
                                 "arrow_bytes_recv", "scan_ms"), 0.0)
            kernel_rows = 0.0
            py_stages: set[int] = set()
            for node in ex["nodes"]:
                ms = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if node["nodeName"].startswith("Scan") and "scan time" in ms:
                    lay["scan_ms"] += _metric(ms["scan time"])[0]
                if "time to run Python workers" not in ms:
                    continue
                for key, name in (
                        ("arrow_boot_ms", "time to start Python workers"),
                        ("arrow_init_ms", "time to initialize Python workers"),
                        ("arrow_run_ms", "time to run Python workers"),
                        ("arrow_bytes_sent", "data sent to Python workers"),
                        ("arrow_bytes_recv",
                         "data returned from Python workers")):
                    lay[key] += _metric(ms[name])[0]
                kernel_rows += _num(ms["number of output rows"])
                stage = _metric(ms["time to run Python workers"])[1]
                if stage is not None:
                    py_stages.add(stage)
            ids = {s for j in ex["successJobIds"] for s in jobs[j]["stageIds"]
                   if s in stages}
            run = {s: stages[s]["executorRunTime"] for s in ids}
            stage_ms = float(sum(run.values()))
            jvm_ms = float(sum(v for s, v in run.items()
                               if s not in py_stages))
            skew = 1.0
            if py_stages & ids:
                main = max(py_stages & ids, key=run.get)
                q = self.get(f"stages/{main}/{stages[main]['attemptId']}"
                             f"/taskSummary?quantiles=0.5,1.0")["duration"]
                skew = q[1] / q[0] if q[0] else 1.0
            # arrow_init_ms is left out: on Spark 4.1.2 init + run exceeds
            # the Python stages' run time, so init overlaps run
            python_ms = lay["arrow_boot_ms"] + lay["arrow_run_ms"]
            lay.update(
                kernel_rows_per_doc=kernel_rows / n_rows,
                shuffle_bytes=float(sum(stages[s]["shuffleWriteBytes"]
                                        for s in ids)),
                shuffle_write_ms=sum(stages[s]["shuffleWriteTime"]
                                     for s in ids) / 1e6,
                jvm_stage_ms=jvm_ms,
                stage_ms=stage_ms,
                task_skew=skew,
                spark_coverage=(jvm_ms + python_ms) / stage_ms
                if stage_ms else 0.0,
            )
            out.append(lay)
        return out


def median_of(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
