"""Engine façade: the 4-verb API over configured sources.

Parity target: reference ``kukur/app.py:21-88`` — resolve a source by name
and dispatch the verb. The Spark engine adds: a shared SparkSession, cached
source construction, and DataFrame-returning verbs (callers collect to Arrow
at the API edge, e.g. the Flight server).
"""

from __future__ import annotations

import re
import threading

from datetime import datetime, timedelta, timezone
from typing import Any, Dict, Iterator, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kukur_spark.base import SeriesSearch, SeriesSelector, SourceStructure
from kukur_spark.metadata import Metadata
from kukur_spark.schema import literal_col
from kukur_spark.session import get_spark
from kukur_spark.sources import SearchResult, SourceFactory
from kukur_spark.streaming import windowed_stats

# Every Engine runs on get_spark()'s one session, so temp views share one
# catalog across threads: without this lock a concurrent sql() call can
# replace or drop a view between another call's registration and analysis.
_SQL_VIEWS_LOCK = threading.Lock()


class Engine:
    """The uniform 4-verb API over all configured sources."""

    def __init__(
        self,
        config: Dict[str, Any],
        spark: Optional[SparkSession] = None,
    ):
        self.spark = spark or get_spark()
        self.config = config
        self.factory = SourceFactory(self.spark, config)

    # -- verbs -------------------------------------------------------------
    def search(self, search: SeriesSearch) -> Iterator[SearchResult]:
        return self.factory.get_source(search.source).search(search)

    def get_metadata(self, selector: SeriesSelector) -> Metadata:
        return self.factory.get_source(selector.source).get_metadata(selector)

    def get_data(
        self,
        selector: SeriesSelector,
        start: Optional[datetime] = None,
        end: Optional[datetime] = None,
    ) -> DataFrame:
        start, end = _default_range(start, end)
        return self.factory.get_source(selector.source).get_data(
            selector, start, end
        )

    def get_plot_data(
        self,
        selector: SeriesSelector,
        start: Optional[datetime] = None,
        end: Optional[datetime] = None,
        interval_count: int = 200,
    ) -> DataFrame:
        start, end = _default_range(start, end)
        return self.factory.get_source(selector.source).get_plot_data(
            selector, start, end, interval_count
        )

    # -- window aggregate (Spark extension: the reference has no streams) --
    def stream_window(
        self,
        source_name: str,
        window: str = "5 minutes",
        watermark: str = "10 minutes",
        tags: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        """Event-time window aggregate over a file source's canonical frame.

        The composition the Flight ``stream_window`` ticket serves: the
        source's plan-cached ``data_frame()`` (column mapping and
        timestamp normalization, the same plan ``get_data`` and ``sql``
        read) → tag-equality predicates → ``streaming.windowed_stats``
        grouped by the source's tag columns, as one batch aggregate over
        the files present at call time.  ``watermark`` is accepted and
        has no effect: within one pass over the data no row can be late.

        Only parquet/orc file sources are accepted.
        """
        source = self.factory.get_source(source_name).source
        options = getattr(source, "options", None)
        file_format = getattr(options, "file_format", None)
        if not getattr(options, "path", None) or file_format not in ("parquet", "orc"):
            raise ValueError(
                f"source {source_name!r} is not a streamable file source "
                "(parquet/orc path required)"
            )
        frame = source.data_frame()
        for key, value in (tags or {}).items():
            frame = frame.filter(literal_col(key) == F.lit(value))
        return windowed_stats(
            frame,
            window=window,
            watermark=watermark,
            group_columns=[c for c in options.tag_columns if c in frame.columns],
        )

    # -- SQL (Spark extension: the gateway is also a query engine) ---------
    def sql(
        self,
        statement: str,
        sources: Optional[List[str]] = None,
        args: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """Run SQL over configured sources registered as temp views.

        A fifth verb the reference cannot offer (it has no executor):
        each requested source's data is registered as a temp view named
        after the source (non-identifier characters become ``_``), the
        engine's ``ku_*`` scalar functions are installed, and the
        statement runs through Catalyst — predicates on the views push
        into the underlying scans like any other DataFrame plan.
        ``sources=None`` registers every source whose raw frame is
        DataFrame-backed; name the sources to keep registration lazy.
        """
        from kukur_spark.sql_functions import register_sql_functions

        _check_sql_statement(statement)
        register_sql_functions(self.spark)
        names = sources if sources is not None else self.factory.source_names()
        views: Dict[str, str] = {}
        frames: Dict[str, DataFrame] = {}
        for name in names:
            source = self.factory.get_source(name)
            frame = getattr(source.source, "data_frame", None)
            if frame is None:
                if sources is not None:
                    raise ValueError(
                        f"source {name!r} has no DataFrame-backed view"
                    )
                continue
            view = _view_name(name)
            if view in views and views[view] != name:
                # 'a.b' and 'a_b' both sanitize to 'a_b' — shadowing one
                # silently would answer the query from the wrong table
                raise ValueError(
                    f"sources {views[view]!r} and {name!r} both map to "
                    f"view {view!r}; rename one or pass `sources` "
                    "explicitly to register only the one you mean"
                )
            views[view] = name
            frames[view] = frame()
        # named parameters (:name) bind server-side — no string splicing.
        # Analysis resolves the views eagerly, so they can be dropped
        # before returning — otherwise registrations outlive the call on
        # a long-lived server and leak into later calls that passed a
        # narrower `sources` list.  Executing the returned frame needs
        # no lock.
        with _SQL_VIEWS_LOCK:
            for view, frame_df in frames.items():
                frame_df.createOrReplaceTempView(view)
            try:
                return (
                    self.spark.sql(statement, args=args)
                    if args
                    else self.spark.sql(statement)
                )
            finally:
                for view in frames:
                    self.spark.catalog.dropTempView(view)

    # -- introspection -----------------------------------------------------
    def list_sources(self) -> List[str]:
        return self.factory.source_names()

    def get_source_structure(
        self, search: SeriesSearch
    ) -> Optional[SourceStructure]:
        return self.factory.get_source(search.source).get_source_structure(search)


_FORBIDDEN_SQL = re.compile(
    r"(?i)(?:\b(insert|update|delete|drop|create|alter|truncate|merge|"
    r"grant|revoke|refresh|cache|uncache|load|analyze|msck|overwrite"
    # JVM-reflection builtins: reflect()/java_method() invoke arbitrary
    # static methods (System.getenv, …) — an escape hatch out of the
    # registered-views sandbox, so they are denied like DDL
    r"|reflect|java_method)\b"
    r"|\b(?:parquet|csv|json|orc|avro|text|binaryfile|delta)\s*\.\s*`)"
)


def _check_sql_statement(statement: str) -> None:
    """SELECT-only guard for the engine's sql verb.

    The verb exists to query the *registered source views*, not the
    server's filesystem: reject DML/DDL keywords and path-based table
    syntax (``SELECT * FROM parquet.`/any/path```) outright.  The check
    is a deny-list on the raw text — deliberately blunt: a quoted string
    containing 'delete' is rejected too, which is an acceptable cost for
    a server-side guard (the error says what to change)."""
    stripped = statement.lstrip()
    first = stripped.split(None, 1)[0].lower() if stripped else ""
    if first not in ("select", "with", "values", "(", "table"):
        raise ValueError(
            f"only SELECT statements are allowed, got {first!r}"
        )
    match = _FORBIDDEN_SQL.search(statement)
    if match:
        raise ValueError(
            "statement rejected: contains forbidden token "
            f"{match.group(0)!r} (DML/DDL and path-based table access "
            "are not allowed through the sql verb)"
        )


def _view_name(name: str) -> str:
    """Sanitize a source name into a SQL view identifier.

    Non-identifier characters become ``_``; a leading digit gets a
    ``v_`` prefix so the result is always a valid bare identifier.
    The mapping is lossy — Engine.sql detects and rejects collisions."""
    view = re.sub(r"\W", "_", name)
    if view and view[0].isdigit():
        view = f"v_{view}"
    return view


def _default_range(
    start: Optional[datetime], end: Optional[datetime]
) -> tuple[datetime, datetime]:
    """Default query range: trailing 1 year (reference kukur/client.py:244-253)."""
    if end is None:
        end = datetime.now(timezone.utc)
    if start is None:
        start = end - timedelta(days=365)
    return start, end
