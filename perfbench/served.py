"""The CLI ``serve`` command run on a thread of the benchmark process, and
the HTTP client of the benchmark's own one-at-a-time requests (warm-up,
reference answers, checks); the timed closed loops run in loadgen.py."""

from __future__ import annotations

import http.client
import socket
import threading
import time
import urllib.parse

K = 10


class ServerHandle:
    """One CLI ``serve`` process body, run on a thread of this process so
    it shares the benchmark's Spark session. engine.server.make_server is
    wrapped (see Bench.capture_servers) to hand back the server and its
    service, which is how the benchmark shuts them down again."""

    def __init__(self, bench, index_dir: str, args: list[str]):
        from engine import cli
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        n = len(bench.servers)
        argv = ["serve", "--index", index_dir, "--port", str(self.port),
                *args]
        self.error: BaseException | None = None

        def body():
            try:
                cli.main(argv)
            except BaseException as e:  # noqa: BLE001 — surfaced below
                self.error = e

        self.thread = threading.Thread(target=body, daemon=True)
        self.thread.start()
        deadline = time.time() + 150
        while len(bench.servers) <= n:
            if self.error is not None or not self.thread.is_alive():
                raise RuntimeError(f"serve {args} failed: {self.error!r}")
            if time.time() > deadline:
                raise RuntimeError(f"serve {args} did not start")
            time.sleep(0.002)
        self.srv, self.service = bench.servers[n]

    def get(self, path: str, rid: str | None = None
            ) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=170)
        try:
            conn.request("GET", path,
                         headers={"X-Bench-Rid": rid} if rid else {})
            r = conn.getresponse()
            return r.status, r.read()
        finally:
            conn.close()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=60)
        self.service.close()


def search_path(q: dict) -> str:
    params = {"query": q["query"], "k": K, "mode": q["mode"]}
    if q["snippet"]:
        params["snippet"] = 1
    return "/search?" + urllib.parse.urlencode(params)
