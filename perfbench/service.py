"""The system under test: the kbrowse HTTP service on a free localhost port.

    python3 perfbench/service.py <pid of the load generator>

Builds ``create_app(spark=get_spark(...))``, serves it with a threaded
werkzeug server on 127.0.0.1, port chosen by the OS, and prints
``PORT <n>`` once it listens.  SIGTERM shuts the server down and stops
Spark; so does the end of the load generator, however it ends (its JVM
and Python workers end when their parent's pipe closes).  Start it with
the environment from ``common.spark_env()``.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import spark_conf  # noqa: E402


def main() -> None:
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGTERM)  # PR_SET_PDEATHSIG
    if os.getppid() != int(sys.argv[1]):
        sys.exit("the load generator has already ended")
    from werkzeug.serving import make_server

    from kbrowse_spark.service.app import create_app
    from kbrowse_spark.session import get_spark

    spark = get_spark("perfbench-service", extra_conf=spark_conf())
    server = make_server("127.0.0.1", 0, create_app(spark=spark), threaded=True)
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    print(f"PORT {server.server_port}", flush=True)
    try:
        server.serve_forever()
    finally:
        for q in spark.streams.active:
            q.stop()
        spark.stop()


if __name__ == "__main__":
    main()
