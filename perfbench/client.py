"""Load-generator side of the HTTP boundary: the service launcher and
timed ``/search`` requests over real localhost sockets."""

from __future__ import annotations

import http.client
import os
import subprocess
import sys
import threading
import time
import urllib.parse
from dataclasses import dataclass

from perfbench.check import PIONEER
from perfbench.common import ROOT, WORK, PeakRss, stop_run

FIRST_ROW_AT = len(PIONEER)


@dataclass
class Response:
    url: str
    sent: float  # perf_counter when the request was written
    first_row: float | None = None  # first byte after the pioneer row, if not ']'
    done: float = 0.0  # closing ']' received
    status: int = 0
    body: bytes = b""

    @property
    def latency_ms(self) -> float:
        return (self.done - self.sent) * 1000

    @property
    def ttfr_ms(self) -> float | None:
        return None if self.first_row is None else (self.first_row - self.sent) * 1000


def search_url(params: dict) -> str:
    return "/search?" + urllib.parse.urlencode(params)


def fetch(port: int, url: str, timeout: float = 170.0) -> Response:
    """GET ``url`` and read the chunked body as it arrives."""
    r = Response(url, 0.0)
    buf = bytearray()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        r.sent = time.perf_counter()
        conn.request("GET", url)
        resp = conn.getresponse()
        r.status = resp.status
        while True:
            piece = resp.read1(1 << 16)
            if not piece:
                break
            buf += piece
            if r.first_row is None and len(buf) > FIRST_ROW_AT and buf[FIRST_ROW_AT] == ord(","):
                r.first_row = time.perf_counter()
        r.done = time.perf_counter()
    finally:
        r.body = bytes(buf)
        conn.close()
    return r


class Service:
    """One kbrowse service process (Python plus its JVM and Spark's
    Python workers), with its peak RSS sampled from launch.  Call
    ``common.mark_run()`` first: the service's processes are found by
    that mark."""

    def __init__(self, warmup_urls=()):
        t0 = time.perf_counter()
        with open(os.path.join(WORK, "service.log"), "ab") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(ROOT, "perfbench", "service.py"), str(os.getpid())],
                stdout=subprocess.PIPE, stderr=log, cwd=WORK,
            )
        self.rss = PeakRss()
        try:
            line = self._read_port_line()
            self.port = int(line.split()[1])
            for url in warmup_urls:
                r = fetch(self.port, url)
                if r.status != 200:
                    raise RuntimeError(f"warm-up {url} answered {r.status}")
        except BaseException:
            self.stop()
            raise
        self.setup_s = time.perf_counter() - t0

    def _read_port_line(self, timeout: float = 120.0) -> str:
        out: list[bytes] = []
        reader = threading.Thread(target=lambda: out.append(self.proc.stdout.readline()), daemon=True)
        reader.start()
        reader.join(timeout)
        if not out or not out[0].startswith(b"PORT "):
            raise RuntimeError(f"service did not start; see {os.path.join(WORK, 'service.log')}")
        return out[0].decode()

    def stop(self, grace: float = 20.0) -> float:
        """Stop the service, then every process it started, and wait
        for each to end; returns their peak RSS in MB."""
        self.proc.terminate()
        try:
            self.proc.wait(grace)
        except subprocess.TimeoutExpired:
            pass
        stop_run(grace)
        self.proc.wait()
        self.proc.stdout.close()
        return self.rss.stop()
