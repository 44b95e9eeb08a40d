"""HTTP façade over api.JobRunner — the reference's REST entry point
with a literal counterpart (SURVEY.md §2.13).

Mirrors /root/reference/internal/api/server.go:

    POST /jobs        {"files": [...], "nReduce": N} → {"id": N}
                      (server.go:32-40, 49-73)
    GET  /jobs/{id}   → {"id", "status", "files_count",
                         "map_tasks_completed", "reduce_tasks_completed"}
                      (server.go:42-48, 75-127)
    GET  /health      → 200 "OK"          (server.go:129-135)

Stdlib http.server only — the façade is control-plane plumbing; Spark
is the entire data plane, so there is nothing performance-critical
here. Task-progress counters have no Spark analogue at this
granularity (Spark tasks ≠ the reference's map/reduce task lists), so
a COMPLETED job reports nReduce completed reduce tasks and
files_count completed map tasks — the reference's own terminal state
(all tasks TaskStatusCompleted, coordinator.go:273-294) — and 0 while
pending/running.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from dist_mapreduce_spark.api import COMPLETED, JobRunner

#: Largest POST /jobs body accepted; a job request is a list of paths.
MAX_BODY_BYTES = 1 << 20


def _make_handler(runner: JobRunner):
    class Handler(BaseHTTPRequestHandler):
        # Silence per-request stderr logging (test noise).
        def log_message(self, fmt: str, *args) -> None:  # noqa: A003
            pass

        def _json(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _text(self, code: int, msg: str) -> None:
            body = msg.encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        # Route table mirrors server.go's mux: "/jobs" only accepts
        # POST and "/jobs/{id}" only GET — a method mismatch on a known
        # route is 405 Method Not Allowed (server.go:51-54, 76-79), not
        # 404; "/health" answers any method (server.go:129-135).
        def _route(self, method: str) -> None:
            if self.path == "/health":
                self._text(200, "OK")
            elif self.path == "/jobs":
                if method != "POST":
                    self._text(405, "Method not allowed")
                else:
                    self._submit()
            elif self.path.startswith("/jobs/"):
                if method != "GET":
                    self._text(405, "Method not allowed")
                else:
                    self._status()
            else:
                self._text(404, "Not found")

        def _submit(self) -> None:
            # The body comes from outside the program: bound it before
            # reading (a negative length would make rfile.read block
            # until the client closes) and check every field's type.
            try:
                n = int(self.headers.get("Content-Length", "0"))
            except ValueError:
                n = -1
            if not 0 <= n <= MAX_BODY_BYTES:
                self._text(400, "Invalid Content-Length")
                return
            try:
                req = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._text(400, "Invalid request body")
                return
            if not isinstance(req, dict):
                self._text(400, "Invalid request body")
                return
            files = req.get("files")
            n_reduce = req.get("nReduce", 0)
            # Validation mirrors handleJobs (server.go:62-65), plus the
            # types Go's json.Unmarshal into []string / int enforces.
            if (
                not isinstance(files, list)
                or not files
                or not all(isinstance(f, str) for f in files)
                or not isinstance(n_reduce, int)
                or isinstance(n_reduce, bool)
                or n_reduce <= 0
            ):
                self._text(400, "Invalid parameters")
                return
            job_id = runner.submit_job(files, n_reduce)
            self._json(200, {"id": job_id})

        def _status(self) -> None:
            id_str = self.path[len("/jobs/"):]
            if not id_str:
                self._text(400, "Missing Job ID")
                return
            try:
                job_id = int(id_str)
            except ValueError:
                self._text(400, "Invalid Job ID")
                return
            try:
                st = runner.job_status(job_id)
            except KeyError:
                self._text(404, "Job not found")
                return
            done = st["status"] == COMPLETED
            self._json(
                200,
                {
                    "id": st["id"],
                    "status": st["status"],
                    "files_count": st["files_count"],
                    "map_tasks_completed": st["files_count"] if done else 0,
                    "reduce_tasks_completed": st["n_reduce"] if done else 0,
                },
            )

        def do_GET(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler API
            self._route("GET")

        def do_POST(self) -> None:  # noqa: N802
            self._route("POST")

        def do_PUT(self) -> None:  # noqa: N802
            self._route("PUT")

        def do_DELETE(self) -> None:  # noqa: N802
            self._route("DELETE")

        def do_PATCH(self) -> None:  # noqa: N802
            self._route("PATCH")

    return Handler


class ApiServer:
    """Loopback-bindable REST server; port 0 → ephemeral (tests)."""

    def __init__(self, runner: JobRunner, host: str = "127.0.0.1", port: int = 0):
        self._httpd = ThreadingHTTPServer((host, port), _make_handler(runner))
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "ApiServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
