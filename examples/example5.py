"""Example5 analog (Example5.scala:12-39): structured attribute values —
navigate information.value, explode the buses list, Bus(name, price),
keyed sliding-window min price → console."""

from _runner import base_args, run_until_interrupt, start

from fiware_cosmos_orion_flink_connector_examples_spark.streaming.jobs import (
    streaming_window_bus_min,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import (
    write_console,
)

if __name__ == "__main__":
    args = base_args(__doc__).parse_args()
    spark, stream, receiver = start(args)
    run_until_interrupt(write_console(streaming_window_bus_min(stream)), receiver)
