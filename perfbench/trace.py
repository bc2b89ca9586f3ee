"""Benchmark-side tracing: spans around the program's public layer entry
points, Spark job counts, JVM GC time and driver memory.

Nothing inside ``kukur_spark`` is instrumented.
:meth:`Tracer.install_engine` wraps, from the outside, the entry point of
each layer the benchmark attributes time to:

- ``app.<verb>``: the ``Engine`` handed to ``serve`` (driver-side plan
  build; ``search`` is drained inside the span, so its Spark execution
  is nested there as ``spark.iterate``);
- ``sources.<verb>``: ``SourceWrapper`` verbs (policies + source);
- ``operators.plot_downsample``: the plot operator's plan build;
- ``spark.collect``: ``DataFrame.toArrow`` on every returned frame;
- ``spark.iterate``: ``DataFrame.toLocalIterator``, which ``search``
  drains inside ``app.search`` (so it is nested there, unlike
  ``spark.collect``, which the server calls after the verb returns);

(``analytics.py`` times ``QUERIES[name]`` and its ``.count()`` itself, as
``workloads.query`` and ``spark.count``.)

Spans go to the :class:`CallRecord` of the client call in flight.  The
client is a single thread in a closed loop, so every span recorded while
a call is open belongs to that call, whichever server thread ran it.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional


@dataclass
class CallRecord:
    """One client operation: its kind, wall time and the layer spans."""

    kind: str
    traced: bool
    wall_s: float = 0.0
    spans: dict[str, float] = field(default_factory=dict)
    jobs: int = 0
    rows: int = 0
    arrow_bytes: int = 0
    first_batch_s: Optional[float] = None

    def add(self, name: str, seconds: float) -> None:
        self.spans[name] = self.spans.get(name, 0.0) + seconds


class Tracer:
    """Spans are recorded only while :attr:`active` is set, so one run
    can interleave traced and untraced rounds and report the overhead."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.call: Optional[CallRecord] = None
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any, bool]] = []

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, name: str, fn: Callable, materialize: bool = False) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            call = tracer.call
            if not tracer.active or call is None:
                result = fn(*args, **kwargs)
                return list(result) if materialize else result
            start = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
                if materialize:
                    # generators do their work while consumed
                    result = list(result)
                return result
            finally:
                elapsed = time.perf_counter() - start
                with tracer._lock:
                    call.add(name, elapsed)

        return traced

    def patch(self, owner: Any, attr: str, name: str, materialize: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by
        :meth:`uninstall`).  Instance attributes are deleted on undo so
        the class method shows through again."""
        had_own = attr in getattr(owner, "__dict__", {})
        original = getattr(owner, attr)
        if isinstance(owner, type):
            original = owner.__dict__[attr]
        setattr(owner, attr, self._wrap(name, original, materialize))
        self._patches.append((owner, attr, original, had_own))

    def install_engine(self, engine) -> None:
        from kukur_spark.sources import SourceWrapper
        import kukur_spark.sources.file_source as file_source
        # SparkSession frames are the classic subclass, which overrides
        # toArrow
        from pyspark.sql.classic.dataframe import DataFrame

        for verb in ("search", "get_metadata", "get_data", "get_plot_data", "sql"):
            self.patch(engine, verb, f"app.{verb}", materialize=verb == "search")
        for verb in ("search", "get_metadata", "get_data", "get_plot_data"):
            self.patch(SourceWrapper, verb, f"sources.{verb}", materialize=verb == "search")
        self.patch(file_source, "plot_downsample", "operators.plot_downsample")
        self.patch(DataFrame, "toArrow", "spark.collect")
        self.patch(DataFrame, "toLocalIterator", "spark.iterate", materialize=True)

    def uninstall(self) -> None:
        for owner, attr, original, had_own in reversed(self._patches):
            if isinstance(owner, type) or had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- counters ---------------------------------------------------------
    def next_job_id(self) -> int:
        """Spark job IDs are sequential; the scheduler's next ID counts
        every job ever submitted, unlike the status tracker, which keeps
        only the last 1000."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory
        return float(
            sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())
        )


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/status") as status:
            for line in status:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return float("nan")

