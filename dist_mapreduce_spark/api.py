"""Job façade: the reference's REST job-submission semantics on Spark
(SURVEY.md §2.13, §7 step 7).

The reference's control plane is a coordinator that accepts
{files, nReduce} jobs, schedules map/reduce tasks over RPC workers, and
reports status (/root/reference/internal/api/server.go:33-135,
internal/coordinator/coordinator.go:44-294). On Spark the scheduler,
workers, shuffle, barriers, retries, and heartbeats are the platform;
what remains of the control plane is this thin façade mirroring the
request/response contract:

    POST /jobs  {files, nReduce}  →  JobRunner.submit_job(files, n_reduce)
    GET  /jobs/{id}               →  JobRunner.job_status(job_id)
    GET  /health                  →  JobRunner.health()

Jobs run the reference's one workload — word count over text files —
asynchronously, writing the reference's output format (sorted
"word count" text lines, one file per reduce partition) via
operators.wordcount.write_sorted_text.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: Reference job states (coordinator.go:51-57, :194-205 + rpc.go status
#: constants). FAILED is reachable here, unlike the reference, where
#: TaskStatusFailed is declared but never assigned (rpc.go:20).
PENDING, RUNNING, COMPLETED, FAILED = "PENDING", "RUNNING", "COMPLETED", "FAILED"


@dataclass
class Job:
    id: int
    files: list[str]
    n_reduce: int
    output_dir: str
    status: str = PENDING
    start_time: float = field(default_factory=time.time)
    error: str | None = None


class JobRunner:
    """Mirror of the coordinator's job lifecycle (SubmitJob
    coordinator.go:44-83, GetJobStatus :86-91) with Spark as the entire
    data plane. Thread-per-job stands in for the REST handler's
    goroutine; Spark's own scheduler replaces GetTask/ReportTask."""

    def __init__(self, spark: SparkSession, default_n_reduce: int = 10) -> None:
        # default nReduce=10 mirrors cmd/coordinator/main.go:29.
        self.spark = spark
        self.default_n_reduce = default_n_reduce
        self._jobs: dict[int, Job] = {}
        self._next_id = 1
        self._lock = threading.Lock()
        # Default outputs land under one directory unique to this
        # runner (made on first use): job ids restart at 1 in every
        # process, so a shared /tmp/mr-out-{id} would let a restarted or
        # second server overwrite earlier jobs' output.
        self._out_root: str | None = None

    def submit_job(
        self, files: list[str], n_reduce: int | None = None, output_dir: str | None = None
    ) -> int:
        """Validation mirrors handleJobs (server.go:62-65): non-empty
        files, positive nReduce."""
        if not files:
            raise ValueError("files must be non-empty")
        n_reduce = n_reduce if n_reduce is not None else self.default_n_reduce
        if n_reduce <= 0:
            raise ValueError("nReduce must be > 0")
        with self._lock:
            job_id = self._next_id
            self._next_id += 1
            if output_dir is None and self._out_root is None:
                self._out_root = tempfile.mkdtemp(prefix="mr-out-")
            out = output_dir or os.path.join(self._out_root, str(job_id))
            job = Job(job_id, list(files), n_reduce, out, status=PENDING)
            self._jobs[job_id] = job
        t = threading.Thread(target=self._run, args=(job,), daemon=True)
        t.start()
        return job_id

    def _run(self, job: Job) -> None:
        from dist_mapreduce_spark.operators.wordcount import word_count, write_sorted_text
        from dist_mapreduce_spark.sources.tables import read_text_files

        job.status = RUNNING
        try:
            docs = read_text_files(self.spark, job.files)
            counts = word_count(docs)
            write_sorted_text(counts, job.output_dir, n_partitions=job.n_reduce)
            job.status = COMPLETED
        except Exception as exc:  # noqa: BLE001 — job failure is data
            # error BEFORE status: job_status snapshots under the
            # registry lock, but this writer doesn't take it — readers
            # key off status, so the message must already be in place
            # when FAILED becomes visible (a FAILED snapshot with
            # error=None would strand the caller's failure handling).
            job.error = str(exc)
            job.status = FAILED

    def job_status(self, job_id: int) -> dict:
        """JobStatusResponse shape (server.go:42-48) plus n_reduce, so
        HTTP callers never reach into ``_jobs`` themselves. Snapshotted
        under the registry lock — one consistent read."""
        with self._lock:
            job = self._jobs.get(job_id)
            if job is None:
                raise KeyError(f"unknown job {job_id}")
            return {
                "id": job.id,
                "status": job.status,
                "files_count": len(job.files),
                "n_reduce": job.n_reduce,
                "output_dir": job.output_dir,
                "error": job.error,
            }

    def wait(self, job_id: int, timeout: float = 120.0) -> dict:
        """Blocking helper (the reference's Done() loop,
        coordinator.go:273-294, inverted to per-job)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            st = self.job_status(job_id)
            if st["status"] in (COMPLETED, FAILED):
                return st
            time.sleep(0.05)
        raise TimeoutError(f"job {job_id} did not finish in {timeout}s")

    def health(self) -> dict:
        """/health (server.go:129-135) — Spark session liveness."""
        alive = not self.spark.sparkContext._jsc.sc().isStopped()
        return {"status": "ok" if alive else "down"}
