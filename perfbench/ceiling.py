"""Closed-loop ingest ceiling of the load generator's one POST connection.

    python3 perfbench/ceiling.py [N]

Starts the ingestion server alone (no Spark; accepted events only
buffer) and has the load generator send N POSTs back to back. The
live_pipeline rate is set to about half of the printed rate.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from realtime_analytics_pipeline_spark.ingestion_api import IngestionHttpServer

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_ceiling_") as feed:
        srv = IngestionHttpServer(feed)
        try:
            subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "loadgen.py"),
                 "--http-port", str(srv.port), "--closed-loop", str(n)],
                check=True,
            )
        finally:
            srv.close()


if __name__ == "__main__":
    main()
