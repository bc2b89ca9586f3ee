"""Arrow Flight server + client speaking the reference's JSON protocol.

Parity target: reference ``kukur/flight.py:20-125`` — tickets and actions
are JSON:

- ``do_get`` ticket: ``{"query": "get_data"|"get_plot_data", "selector":
  {"source":…, "tags":…, "field":…}, "start_date": iso, "end_date": iso
  [, "interval_count": n]}`` → Arrow record-batch stream;
- actions: ``search``, ``get_metadata``, ``list_sources``,
  ``get_source_structure`` → one JSON result per item.

Spark extensions ride the same ``do_get``: ``{"query": "sql", …}`` and
``{"query": "stream_window", "source":…[, "window", "watermark",
"tags"]}``, the latter a batch window aggregate over the source's
canonical frame (``watermark`` has no effect within that one pass).

The engine executes the query as a Spark plan; the result lands on the wire
via ``DataFrame.toArrow()`` — executors compute, the driver only relays
Arrow batches (Spark collects to the driver; for 100 TB-scale *exports* use
``df.write`` to shared storage instead — Flight is the interactive verb
surface, matching the reference's usage).
"""

from __future__ import annotations

import hmac
import json
import threading
from datetime import datetime
from typing import Any, Dict, Iterator, List, Optional, Union

from kukur_spark.base import (
    SeriesSearch,
    SeriesSelector,
)
from kukur_spark.metadata import Metadata

try:
    import pyarrow.flight as fl

    HAS_FLIGHT = True
except ImportError:  # pragma: no cover
    HAS_FLIGHT = False
    fl = None  # type: ignore


def _parse_date(value: str) -> datetime:
    from kukur_spark.timeutil import as_utc

    # naive dates would otherwise be interpreted in the server's OS tz
    return as_utc(datetime.fromisoformat(value.replace("Z", "+00:00")))


def _selector_from_data(data: Dict[str, Any]) -> SeriesSelector:
    return SeriesSelector(
        data["source"], dict(data.get("tags", {})), data.get("field", "value")
    )


def _valid_api_key(secret: Optional[str], api_keys, repository) -> bool:
    """A static key (constant-time compare) or one the repository verifies."""
    if secret is not None and any(
        hmac.compare_digest(secret, key) for key in api_keys
    ):
        return True
    return repository is not None and repository.verify(secret)


if HAS_FLIGHT:

    class _BasicServerAuthHandler(fl.ServerAuthHandler):
        """Flight-handshake BasicAuth (the reference client's mechanism:
        kukur/client.py:235-236 authenticates with a (name, key) pair).

        Anonymous calls (no handshake) pass through with an empty token and
        are judged by the header middleware; a non-empty token must be a
        valid key.
        """

        def __init__(self, validate):
            super().__init__()
            self._validate = validate

        def authenticate(self, outgoing, incoming):
            auth = fl.BasicAuth.deserialize(incoming.read())
            password = (auth.password or b"").decode()
            if not self._validate(password):
                raise fl.FlightUnauthenticatedError("invalid api key")
            outgoing.write(auth.password)

        def is_valid(self, token):
            if not token:
                return b""  # anonymous → middleware decides
            secret = token.decode() if isinstance(token, bytes) else token
            if self._validate(secret):
                return token
            raise fl.FlightUnauthenticatedError("invalid token")

    class _ApiKeyMiddlewareFactory(fl.ServerMiddlewareFactory):
        """API-key auth: static keys from config ``api_keys`` and/or a
        SQLite ``ApiKeyRepository`` (reference pattern — keys managed by
        the api-key CLI subcommand)."""

        def __init__(self, api_keys=None, repository=None):
            self.api_keys = set(api_keys or [])
            self.repository = repository

        def start_call(self, info, headers):
            # the handshake RPC itself must pass: the auth handler judges it
            if info.method == fl.FlightMethod.HANDSHAKE:
                return None
            # key existence is checked per request (not frozen at server
            # start): a fresh empty repository leaves the server open until
            # the first key is created, then locks down immediately
            if not self.api_keys and (
                self.repository is None or not self.repository.has_keys()
            ):
                return None
            # handshake-authenticated calls carry a NON-EMPTY auth token
            # (validated by the server auth handler's is_valid); an empty
            # token is the anonymous pass-through and must NOT bypass the
            # key check here
            tokens = headers.get("auth-token-bin")
            if tokens and tokens[0]:
                return None
            provided = headers.get("x-api-key", [None])
            secret = provided[0] if provided else None
            if _valid_api_key(secret, self.api_keys, self.repository):
                return None
            raise fl.FlightUnauthenticatedError("missing or invalid api key")

    class KukurFlightServer(fl.FlightServerBase):
        """Serves an Engine over gRPC with the JSON ticket/action protocol."""

        def __init__(
            self,
            engine,
            location: str = "grpc://0.0.0.0:8081",
            api_keys=None,
            repository=None,
            enable_sql: bool = False,
        ):
            middleware = {}
            auth_handler = None
            if api_keys or repository is not None:
                middleware["auth"] = _ApiKeyMiddlewareFactory(
                    api_keys, repository
                )

                auth_handler = _BasicServerAuthHandler(
                    lambda secret: _valid_api_key(
                        secret, api_keys or [], repository
                    )
                )
            super().__init__(
                location, auth_handler=auth_handler, middleware=middleware
            )
            self.engine = engine
            self.location = location
            # the sql verb is a privilege expansion over the reference's
            # fixed verbs: it requires BOTH an explicit opt-in
            # (flight.enable_sql) and configured authentication — an
            # anonymous server never executes client SQL
            self.sql_enabled = bool(enable_sql) and (
                bool(api_keys) or repository is not None
            )

        # -- data ---------------------------------------------------------
        def do_get(self, context, ticket):
            request = json.loads(ticket.ticket.decode())
            query = request.get("query", "get_data")
            if query == "sql":
                # fifth verb (Spark extension): SELECT-only SQL over the
                # registered source views, streamed back as Arrow.
                # Requires the explicit enable_sql opt-in plus configured
                # auth; Engine.sql additionally rejects DML/DDL and
                # path-based table syntax (see app.py)
                if not self.sql_enabled:
                    raise fl.FlightServerError(
                        "sql verb disabled: set flight.enable_sql and "
                        "configure api keys to allow server-side SQL"
                    )
                df = self.engine.sql(
                    request["statement"],
                    request.get("sources"),
                    request.get("args"),
                )
                return fl.RecordBatchStream(df.toArrow())
            if query == "stream_window":
                # window-aggregate extension: one batch pass of
                # windowed_stats over a parquet/orc source's canonical
                # frame (watermark accepted, no effect in one pass)
                df = self.engine.stream_window(
                    request["source"],
                    window=request.get("window", "5 minutes"),
                    watermark=request.get("watermark", "10 minutes"),
                    tags=request.get("tags"),
                )
                return fl.RecordBatchStream(df.toArrow())
            selector = _selector_from_data(request["selector"])
            start = _parse_date(request["start_date"])
            end = _parse_date(request["end_date"])
            if query == "get_data":
                df = self.engine.get_data(selector, start, end)
            elif query == "get_plot_data":
                df = self.engine.get_plot_data(
                    selector, start, end, int(request.get("interval_count", 200))
                )
            else:
                raise fl.FlightServerError(f"unknown query: {query}")
            return fl.RecordBatchStream(df.toArrow())

        # -- actions ------------------------------------------------------
        def do_action(self, context, action):
            body = json.loads(action.body.to_pybytes().decode()) if action.body else {}
            if action.type == "search":
                return self._search(body)
            if action.type == "get_metadata":
                # reference clients send the flat selector dict as the body
                # (kukur/flight.py:119); our client wraps it — accept both
                selector = _selector_from_data(body.get("selector", body))
                metadata = self.engine.get_metadata(selector)
                return [json.dumps(metadata.to_data()).encode()]
            if action.type == "list_sources":
                return [json.dumps(self.engine.list_sources()).encode()]
            if action.type == "get_source_structure":
                flat = body.get("search", body)
                search = SeriesSearch(flat["source"], flat.get("tags"))
                structure = self.engine.get_source_structure(search)
                if structure is None:
                    return [json.dumps(None).encode()]
                return [
                    json.dumps(
                        {
                            "fields": structure.fields,
                            "tagKeys": structure.tag_keys,
                            "tagValues": structure.tag_values,
                        }
                    ).encode()
                ]
            raise fl.FlightServerError(f"unknown action: {action.type}")

        def _search(self, body: Dict[str, Any]) -> List[bytes]:
            # reference clients send the flat search dict (kukur/flight.py:84)
            flat = body.get("search", body)
            search = SeriesSearch(
                flat["source"], flat.get("tags"), flat.get("field")
            )
            results = []
            for result in self.engine.search(search):
                if isinstance(result, Metadata):
                    results.append(json.dumps(result.to_data()).encode())
                else:
                    results.append(
                        json.dumps(
                            {
                                "source": result.source,
                                "tags": dict(result.tags),
                                "field": result.field,
                            }
                        ).encode()
                    )
            return results

    class _ClientBasicAuthHandler(fl.ClientAuthHandler):
        """Handshake BasicAuth client side (reference (name, key) pairs)."""

        def __init__(self, name: str, key: str):
            super().__init__()
            self._basic = fl.BasicAuth(name.encode(), key.encode())
            self._token = b""

        def authenticate(self, outgoing, incoming):
            outgoing.write(self._basic.serialize())
            self._token = incoming.read()

        def get_token(self):
            return self._token

    class _ApiKeyClientMiddleware(fl.ClientMiddleware):
        def __init__(self, api_key: str):
            self.api_key = api_key

        def sending_headers(self):
            return {"x-api-key": self.api_key}

    class _ApiKeyClientMiddlewareFactory(fl.ClientMiddlewareFactory):
        def __init__(self, api_key: str):
            self.api_key = api_key

        def start_call(self, info):
            return _ApiKeyClientMiddleware(self.api_key)

    class FlightClient:
        """Python client for the JSON Flight protocol (reference
        kukur/client.py:34-237)."""

        def __init__(
            self,
            host: str = "localhost",
            port: int = 8081,
            api_key=None,
        ):
            """``api_key`` may be a plain secret (sent as the x-api-key
            header) or a ``(name, key)`` pair (reference-style Flight
            handshake BasicAuth)."""
            middleware = []
            handshake = None
            if isinstance(api_key, (tuple, list)):
                handshake = tuple(api_key)
            elif api_key is not None:
                middleware.append(_ApiKeyClientMiddlewareFactory(api_key))
            self._client = fl.connect(
                f"grpc://{host}:{port}", middleware=middleware
            )
            if handshake is not None:
                self._client.authenticate(
                    _ClientBasicAuthHandler(handshake[0], handshake[1])
                )

        def list_sources(self) -> List[str]:
            result = next(
                iter(self._client.do_action(fl.Action("list_sources", b"{}")))
            )
            return json.loads(result.body.to_pybytes())

        def search(
            self, search: SeriesSearch
        ) -> Iterator[Union[SeriesSelector, Metadata]]:
            body = json.dumps(
                {
                    "search": {
                        "source": search.source,
                        "tags": search.tags,
                        "field": search.field,
                    }
                }
            ).encode()
            for result in self._client.do_action(fl.Action("search", body)):
                data = json.loads(result.body.to_pybytes())
                if "series" in data:
                    yield Metadata.from_data(data)
                else:
                    yield SeriesSelector(
                        data["source"], dict(data["tags"]), data.get("field", "value")
                    )

        def get_metadata(self, selector: SeriesSelector) -> Metadata:
            body = json.dumps(
                {
                    "selector": {
                        "source": selector.source,
                        "tags": dict(selector.tags),
                        "field": selector.field,
                    }
                }
            ).encode()
            result = next(
                iter(self._client.do_action(fl.Action("get_metadata", body)))
            )
            return Metadata.from_data(json.loads(result.body.to_pybytes()))

        def get_source_structure(self, search: SeriesSearch):
            body = json.dumps(
                {"search": {"source": search.source, "tags": search.tags}}
            ).encode()
            result = next(
                iter(
                    self._client.do_action(
                        fl.Action("get_source_structure", body)
                    )
                )
            )
            return json.loads(result.body.to_pybytes())

        def _read(self, request: Dict[str, Any]):
            ticket = fl.Ticket(json.dumps(request).encode())
            return self._client.do_get(ticket).read_all()

        def get_data(
            self, selector: SeriesSelector, start: datetime, end: datetime
        ):
            return self._read(
                {
                    "query": "get_data",
                    "selector": {
                        "source": selector.source,
                        "tags": dict(selector.tags),
                        "field": selector.field,
                    },
                    "start_date": start.isoformat(),
                    "end_date": end.isoformat(),
                }
            )

        def stream_window(
            self,
            source: str,
            window: str = "5 minutes",
            watermark: str = "10 minutes",
            tags=None,
        ):
            """Event-time window aggregate of a parquet/orc source served
            as Arrow (``watermark`` is accepted and has no effect)."""
            request: Dict[str, Any] = {
                "query": "stream_window",
                "source": source,
                "window": window,
                "watermark": watermark,
            }
            if tags:
                request["tags"] = dict(tags)
            return self._read(request)

        def sql(self, statement: str, sources=None, args=None):
            """Run SQL on the server; returns a pyarrow Table.

            ``args`` binds named ``:params`` server-side — send values,
            never spliced strings."""
            request = {"query": "sql", "statement": statement}
            if sources is not None:
                request["sources"] = list(sources)
            if args:
                request["args"] = args
            return self._read(request)

        def get_plot_data(
            self,
            selector: SeriesSelector,
            start: datetime,
            end: datetime,
            interval_count: int = 200,
        ):
            return self._read(
                {
                    "query": "get_plot_data",
                    "selector": {
                        "source": selector.source,
                        "tags": dict(selector.tags),
                        "field": selector.field,
                    },
                    "start_date": start.isoformat(),
                    "end_date": end.isoformat(),
                    "interval_count": interval_count,
                }
            )


def serve(
    engine,
    port: int = 8081,
    background: bool = False,
    api_keys=None,
    repository=None,
) -> Optional["KukurFlightServer"]:
    """Start the Flight server; ``background=True`` runs it on a thread."""
    if not HAS_FLIGHT:  # pragma: no cover
        raise NotImplementedError("pyarrow.flight is not available")
    config = engine.config if hasattr(engine, "config") else {}
    if api_keys is None:
        api_keys = config.get("api_keys", [])
    if repository is None and config.get("api_key_db"):
        from kukur_spark.repository import ApiKeyRepository

        repository = ApiKeyRepository(config["api_key_db"])
    server = KukurFlightServer(
        engine,
        f"grpc://0.0.0.0:{port}",
        api_keys,
        repository,
        enable_sql=bool(
            config.get("flight", {}).get("enable_sql", False)
            if isinstance(config.get("flight"), dict)
            else config.get("enable_sql", False)
        ),
    )
    if background:
        thread = threading.Thread(target=server.serve, daemon=True)
        thread.start()
        return server
    server.serve()
    return server
