"""Trigger / emit-strategy surface (reference: Flink's table.exec.emit.*
options and DataStream trigger DSL — flink-table-runtime
.../operators/window/triggers/{ProcessingTimeTriggers,EventTimeTriggers,
CountTriggers}.java).

Flink separates *when state is updated* from *when results emit*; Spark
Structured Streaming fuses both into the micro-batch trigger. The honest
mapping, expressed here as one helper:

| Flink concept                              | Spark trigger                |
|--------------------------------------------|------------------------------|
| EventTimeTriggers.afterEndOfWindow()       | default micro-batch + watermark (append mode emits on window close) |
| ...withEarlyFirings(processing interval)   | ProcessingTime trigger + update mode (early partial results) |
| bounded-input drain ("batch is streaming") | AvailableNow                 |
| table.exec.emit.early-fire.delay = 0ms     | Continuous (experimental; stateless maps/filters only) |
| CountTriggers.of(n)                        | no Spark analog — count_window (operators/windows.py) covers count-based *windows*; count-based *emission* is documented out |

``start_stream`` is the user-facing trigger API; tests drive every
supported mode. The engine's own drains start in ``storeutil.run_drain``
or ``core.run_to_memory`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def start_stream(
    sdf: DataFrame,
    sink_format: str = "memory",
    query_name: str | None = None,
    output_mode: str = "append",
    mode: str = "drain",
    interval: str | None = None,
    checkpoint: str | None = None,
    **sink_options,
):
    """Start ``sdf`` with a Flink-style emit strategy.

    mode:
      - "drain":        AvailableNow — process all available input, stop
                        (Flink bounded-stream execution).
      - "on-watermark": default micro-batch; with append mode, windowed
                        results emit when the watermark closes the window
                        (EventTimeTriggers.afterEndOfWindow).
      - "interval":     ProcessingTime trigger every ``interval`` (early
                        firings; pair with update output mode).
      - "continuous":   experimental Continuous trigger with ``interval``
                        checkpointing (stateless pipelines only).
    """
    w = sdf.writeStream.format(sink_format).outputMode(output_mode)
    if query_name:
        w = w.queryName(query_name)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    for k, v in sink_options.items():
        w = w.option(k, v)
    if mode == "drain":
        w = w.trigger(availableNow=True)
    elif mode == "on-watermark":
        pass  # default micro-batch trigger
    elif mode == "interval":
        w = w.trigger(processingTime=interval or "1 second")
    elif mode == "continuous":
        w = w.trigger(continuous=interval or "1 second")
    else:
        raise ValueError(f"unknown trigger mode: {mode!r}")
    return w.start()
