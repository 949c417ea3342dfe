"""``job_skewed``: ``jobs/extract_job.py`` run the way users run it, under
``spark-submit --master local[nproc] --py-files <zip>``, timed from launch
to exit, so every JVM and Python worker starts cold. The job takes its
default salted path and writes spans plus run_metrics."""

from __future__ import annotations

import os
import shutil
import subprocess
import time
import zipfile

import common
import corpora
from eventlog import EventLog
from extract_workloads import extract_layers

N_DOCS = 2000
N_FILES = 4
MEGA_DOC_RATE = 0.10   # five times gen_doc's default: the skew tier
STAGE_REPEATS = 3
LAUNCH_TIMEOUT_S = 150


def _build_zip(path: str) -> None:
    pkg = os.path.join(common.ROOT, "oxidizepdf_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(pkg):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for f in sorted(files):
                if not f.endswith(".pyc"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, common.ROOT))


def _launch(paths: dict, zip_path: str, corpus: str, tag: str,
            cores: int, event_log: bool) -> tuple[float, float, str, int]:
    """One job run; returns (wall seconds, peak tree RSS MB, output dir,
    exit code)."""
    out = os.path.join(paths["out"], tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", ""), "bin",
                                "spark-submit")
    if not os.path.exists(spark_submit):
        spark_submit = shutil.which("spark-submit") or "spark-submit"
    cmd = [spark_submit, "--master", f"local[{cores}]", "--py-files", zip_path]
    if event_log:
        cmd += ["--conf", "spark.eventLog.enabled=true",
                "--conf", "spark.eventLog.dir=file://" + paths["eventlog"],
                "--conf", "spark.eventLog.compress=false"]
    cmd += [os.path.join(common.ROOT, "jobs", "extract_job.py"),
            "--input", corpus,
            "--output", os.path.join(out, "spans"),
            "--metrics", os.path.join(out, "run_metrics"),
            "--run-id", tag]
    env = dict(os.environ)
    # the job imports the engine from the --py-files zip, as users run it
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != common.ROOT)
    with open(os.path.join(out, "job.log"), "wb") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=paths["work"], env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        with common.PeakRss(proc.pid) as rss:
            try:
                code = proc.wait(timeout=LAUNCH_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
        wall = time.perf_counter() - t0
    common.wait_gone(rss.seen)  # the job's JVM, daemon and workers
    return wall, rss.peak, out, code


def _check(out: str, expected: dict, code: int) -> tuple[int, list]:
    """Documents failing the job contract: each doc_id exactly once in
    the written spans, with the expected spans, and run_metrics.docs_in
    summing to the corpus size (a wrong sum fails every document)."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    if code != 0:
        return len(expected), ["exit code %d" % code]
    spans = ds.dataset(os.path.join(out, "spans"), format="parquet",
                       partitioning="hive").to_table(
        columns=["doc_id", "spans"]).to_pydict()
    ids = spans["doc_id"]
    bad, sample = corpora.span_rows_equal(expected, ids, spans["spans"])
    seen: dict = {}
    for d in ids:
        seen[d] = seen.get(d, 0) + 1
    wrong_count = sum(1 for d in expected if seen.get(d, 0) != 1)
    docs_in = sum(pq.read_table(os.path.join(out, "run_metrics"),
                                columns=["docs_in"]).column(0).to_pylist())
    if docs_in != len(expected):
        return len(expected), [f"run_metrics.docs_in={docs_in}"]
    return max(bad, wrong_count), sample


def run(workload: str, seed: int, seconds: float, trace: bool, paths: dict,
        cores: int) -> dict:
    detail: dict = {"n_docs": N_DOCS, "n_files": N_FILES, "cores": cores,
                    "mega_doc_rate": MEGA_DOC_RATE}
    setup: dict = {}
    t0 = time.perf_counter()
    from oxidizepdf_spark.kernel import content  # builds the C extension

    setup["c_build_s"] = time.perf_counter() - t0
    detail["c_fast_path"] = int(content._CSCAN is not None)

    corpus = os.path.join(paths["data"], "corpus")
    zip_path = os.path.join(paths["data"], "oxidizepdf_spark.zip")
    stage_s = []
    for _ in range(STAGE_REPEATS):
        t0 = time.perf_counter()
        expected = corpora.stage_docs(
            corpus, N_DOCS, seed, N_FILES, mega_doc_rate=MEGA_DOC_RATE)
        _build_zip(zip_path)
        stage_s.append(time.perf_counter() - t0)
    setup["stage_s"] = common.median(stage_s)

    walls, peaks, outs = [], [], []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        wall, peak, out, code = _launch(
            paths, zip_path, corpus, f"run{len(walls)}", cores, False)
        walls.append(wall)
        peaks.append(peak)
        outs.append((out, code))
    wall = common.median(walls)

    attempted, failed, samples = 0, 0, []
    for out, code in outs:
        bad, sample = _check(out, expected, code)
        attempted += N_DOCS
        failed += bad
        samples += sample
        if code == 0:
            shutil.rmtree(out, ignore_errors=True)
    detail.update(launch_walls_s=[round(w, 4) for w in walls],
                  setup_parts_s={k: round(v, 4) for k, v in setup.items()},
                  stage_runs_s=[round(s, 4) for s in stage_s],
                  check_bad_sample=samples[:5])
    result = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "docs_per_s": N_DOCS / wall,
            "wall_s": wall,
            "setup_s": sum(setup.values()),
        },
        "peak_rss_mb": common.median(peaks),
        "detail": detail,
    }
    if trace:
        t_wall, _peak, out, code = _launch(
            paths, zip_path, corpus, "traced", cores, True)
        bad, sample = _check(out, expected, code)
        result["attempted"] += N_DOCS
        result["failed"] += bad
        detail["traced_launch_wall_s"] = round(t_wall, 4)
        log = EventLog(paths["eventlog"])
        detail["traced_stages"] = log.stage_count()
        # a job run carries no labels: every execution of the log is its own
        layers, extra, mism = extract_layers(log, None, 1, seed, N_DOCS,
                                             MEGA_DOC_RATE, writes=True)
        layers["trace.overhead_share"] = t_wall / wall - 1.0
        result["layers"], result["layers_extra"] = layers, extra
        result["attempted"] += layers["kernel.docs"]
        result["failed"] += mism
    return result
