"""Serve one ZipNum cluster with the engine's CDX HTTP server, in a process of
its own, until interrupted.

Usage: python3 perfbench/lookup_server.py CLUSTER_DIR PAGE_SIZE

Prints the bound port on the first line of stdout once it accepts requests.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from ia_hadoop_tools_spark.sources.cdx_http_server import make_cdx_server

    srv = make_cdx_server(sys.argv[1], port=0, page_size=int(sys.argv[2]))
    try:
        print(srv.server_address[1], flush=True)
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()


if __name__ == "__main__":
    main()
