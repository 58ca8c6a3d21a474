"""Loopback ``MiniNatsServer(jetstream=True)`` in its own process.

Prints ``nats://127.0.0.1:<port>`` on stdout once listening (ephemeral
port) and serves until its stdin closes.

    python3 -m perfbench.js_server
"""

from __future__ import annotations

import sys


def main() -> None:
    from datafusion_nats_spark.sources.nats_wire import MiniNatsServer

    server = MiniNatsServer(port=0, jetstream=True).start()
    print(server.url, flush=True)
    try:
        sys.stdin.read()  # returns at EOF: the parent is done with us
    finally:
        server.stop()


if __name__ == "__main__":
    main()
