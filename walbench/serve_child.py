"""Traced wire server: ``python -m walrus_spark.cli serve`` with spans
around the public calls into walrus_spark.log.wal and
walrus_spark.log.commands.

    python3 walbench/serve_child.py --spans OUT.json -- serve --root DIR --listen HOST:PORT

Stops on SIGINT like the plain server; after the server returns it
writes the spans to OUT.json.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from tracing import Tracer  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    if len(argv) < 3 or argv[0] != "--spans" or argv[2] != "--":
        print(__doc__, file=sys.stderr)
        return 2
    out_path, cli_args = argv[1], argv[3:]
    from walrus_spark import cli
    from walrus_spark.log import commands, wal

    tracer = Tracer()
    tracer.wrap(
        wal.WalrusLog,
        "multi_append",
        "wal.multi_append",
        attrs_fn=lambda a, k, _o: {"entries": sum(len(v) for v in a[1].values())},
    )
    tracer.wrap(
        wal.WalrusLog,
        "peek_range",
        "wal.peek_range",
        attrs_fn=lambda a, k, o: {"entries": len(o) if o is not None else 0},
    )
    tracer.wrap(wal.WalrusLog, "commit_cursor_deferred", "wal.commit_cursor")
    tracer.wrap(
        commands.CommandShell,
        "execute",
        "commands.execute",
        attrs_fn=lambda a, k, o: {
            "op": a[1].split(" ", 1)[0],
            "reply": (o or "ERR").split(" ", 1)[0],
        },
    )
    try:
        rc = cli.main(cli_args)
    finally:
        tracer.unwrap_all()
        with open(out_path, "w") as f:
            json.dump({"spans": tracer.spans}, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
