"""Example2 analog (Example2.scala:12-52): Example1 + JSON
re-serialization + HTTP write-back to the Context Broker, plus console
print of the posted content (the multi-consumer DAG)."""

import tempfile

from _runner import base_args, run_until_interrupt, start

from fiware_cosmos_orion_flink_connector_examples_spark.streaming.jobs import (
    sink_envelopes,
    streaming_window_min,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import (
    write_http_and_console,
)

if __name__ == "__main__":
    p = base_args(__doc__)
    p.add_argument("--broker", default="http://localhost:1026", help="Context Broker base URL")
    args = p.parse_args()
    spark, stream, receiver = start(args)
    envelopes = sink_envelopes(streaming_window_min(stream), f"{args.broker}/v2/entities/")
    q = write_http_and_console(envelopes, tempfile.mkdtemp(prefix="ckpt_ex2_"))
    run_until_interrupt(q, receiver)
