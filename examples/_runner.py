"""Shared scaffolding for the example scripts: receiver + stream +
console/HTTP sink wiring."""

from __future__ import annotations

import argparse
import signal
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark  # noqa: E402
from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (  # noqa: E402
    NgsiHttpReceiver,
    register_orion_source,
)


def base_args(desc: str) -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=desc)
    p.add_argument("--port", type=int, default=9001, help="HTTP notification port")
    p.add_argument("--spool", default=None, help="spool dir (default: temp)")
    return p


def start(args):
    """Returns (spark, notifications stream DF, receiver)."""
    spool = args.spool or tempfile.mkdtemp(prefix="ngsi_spool_")
    receiver = NgsiHttpReceiver(spool, port=args.port).start()
    print(f"listening for NGSI notifications on :{receiver.port}, spool={spool}")
    spark = get_spark(app_name="ngsi-example")
    spark.sparkContext.setLogLevel("WARN")
    register_orion_source(spark)
    stream = spark.readStream.format("orion_http").option("spool_dir", spool).load()
    return spark, stream, receiver


def run_until_interrupt(query, receiver):
    """Serve until the query ends or Ctrl-C, then stop both.  SIGINT
    only sets a flag that a Python sleep loop polls: raised inside a
    blocking call into the JVM, or handled by PySpark's own handler
    (which calls into the JVM from the interrupted thread), it would
    surface as a ``Py4JError`` instead of stopping the query."""
    interrupted: list[int] = []
    previous = signal.signal(signal.SIGINT, lambda signum, _frame: interrupted.append(signum))
    try:
        while query.isActive and not interrupted:
            time.sleep(0.5)
    finally:
        query.stop()
        receiver.stop()
        signal.signal(signal.SIGINT, previous)
    failure = query.exception()
    if failure is not None:
        raise SystemExit(f"query failed: {failure}")
