"""Slicer HTTP API as a Flask blueprint over a Workspace.

Parity: /root/reference/cubes/server/blueprint.py:228-607 and request
parsing in /root/reference/cubes/server/decorators.py:68-120 — the
same endpoints, query parameters (``cut``, ``drilldown``,
``aggregates``, ``measures``, ``order``, ``page``, ``pagesize``,
``split``, ``format``) and JSON response shapes, served from the
Spark engine.

The server holds ONE SparkSession; each request builds a lazy
DataFrame plan and collects only the (paginated) result — request
latency is Spark job latency, memory stays bounded by page size and
the ``json_record_limit`` guard (parity: blueprint.py:107).
"""

from __future__ import annotations

import json
from typing import Any, Optional

from flask import Blueprint, Flask, Response, current_app, g, jsonify, \
    request

from cubes_spark.auth import Authorizer, NoopAuthorizer, NotAuthorized
from cubes_spark.errors import ArgumentError, ConfigurationError, \
    CubesError, NoSuchCubeError
from cubes_spark.formatters import CSVFormatter, SlicerJSONEncoder
from cubes_spark.server.caching import cached_response
from cubes_spark.server.authenticators import Authenticator, \
    NotAuthenticated, create_authenticator
from cubes_spark.sources.workspace import Workspace

__all__ = ["slicer_blueprint", "create_server", "VERSION"]

VERSION = "2.0-spark"

slicer = Blueprint("slicer", __name__)


def slicer_blueprint() -> Blueprint:
    return slicer


def create_server(workspace: Workspace,
                  authorizer: Optional[Authorizer] = None,
                  json_record_limit: int = 1000,
                  authenticator: Any = None,
                  request_logger: Any = None,
                  visualizer: Optional[str] = None,
                  allow_cors_origin: Optional[str] = None,
                  search: Optional[dict] = None,
                  http_cache: Any = None,
                  http_cache_ttl: float = 60.0) -> Flask:
    """Flask app serving the slicer API for `workspace`.

    ``authenticator`` is an ``Authenticator`` instance or a method name
    (``none`` / ``pass_parameter`` / ``http_basic_proxy`` /
    ``admin_admin``).  The default, ``pass_parameter``, TRUSTS the
    client's ``?identity=`` / ``X-Identity`` — with it authorization is
    advisory; use ``http_basic_proxy`` behind an authenticating proxy
    for real access control (see server/authenticators.py).

    ``http_cache`` enables response caching on the browse endpoints
    (parity: reference server/caching.py): ``True`` for the built-in
    in-process LRU, or any ``caching.Cache`` instance; entries live
    ``http_cache_ttl`` seconds and responses advertise
    ``Cache-Control: max-age``.  ETag / 304 revalidation is always on
    regardless (a byte-equal body never re-downloads).
    """
    app = Flask("cubes_spark.server")
    app.config["workspace"] = workspace
    app.config["authorizer"] = authorizer or NoopAuthorizer()
    app.config["json_record_limit"] = json_record_limit
    app.config["authenticator"] = create_authenticator(authenticator)
    app.config["request_logger"] = request_logger
    app.config["visualizer"] = visualizer
    app.config["allow_cors_origin"] = allow_cors_origin
    # [search] config: {"engine": <searcher extension name>, ...opts}
    # (parity: blueprint.py:546-550 reads [search] engine)
    app.config["search"] = search
    if http_cache is True:
        from cubes_spark.server.caching import MemoryCache
        http_cache = MemoryCache(ttl=http_cache_ttl)
    app.config["http_cache"] = http_cache
    app.config["http_cache_ttl"] = http_cache_ttl
    app.register_blueprint(slicer)
    return app


def _log_time(method: str, cube: Any, cell: Any = None, **other: Any):
    """Request-log timing context for browse endpoints; no-op without a
    configured logger (parity: server/logging.py log_time)."""
    logger = current_app.config.get("request_logger")
    if logger is None:
        from contextlib import nullcontext

        return nullcontext()
    return logger.log_time(method, cube, cell, identity=_identity(),
                           **other)


def _workspace() -> Workspace:
    return current_app.config["workspace"]


def _authorizer() -> Authorizer:
    return current_app.config["authorizer"]


def _identity() -> Optional[str]:
    """Authenticated identity, resolved once per request by the
    configured Authenticator (parity: server/base.py auth flow —
    authentication yields identity, authorization consumes it)."""
    if not hasattr(g, "auth_identity"):
        authenticator: Authenticator = current_app.config["authenticator"]
        g.auth_identity = authenticator.authenticate(request)
    return g.auth_identity


def _json(payload: Any, status: int = 200) -> Response:
    return Response(
        SlicerJSONEncoder(indent=None).encode(payload),
        status=status,
        mimetype="application/json",
    )


@slicer.errorhandler(CubesError)
def _user_error(error: CubesError) -> Response:
    status = 404 if isinstance(error, NoSuchCubeError) else 400
    return _json({"error": type(error).__name__, "message": str(error)},
                 status=status)


@slicer.errorhandler(NotAuthorized)
def _not_authorized(error: NotAuthorized) -> Response:
    return _json({"error": "not_authorized", "message": str(error)}, 403)


@slicer.errorhandler(NotAuthenticated)
def _not_authenticated(error: NotAuthenticated) -> Response:
    return _json({"error": "not_authenticated", "message": str(error)},
                 401)


def _cube(cube_name: str):
    """The cube `cube_name`, when the identity may browse it."""
    cube = _workspace().cube(cube_name)
    if not _authorizer().authorize(_identity(), [cube.name]):
        raise NotAuthorized(f"Not authorized for cube '{cube_name}'")
    return cube


def _browser(cube_name: str):
    cube = _cube(cube_name)
    return _workspace().browser(cube), cube


def _restricted_cell(cube, browser, cell_arg: Optional[str]):
    cell = browser.prepare_cell(cell_arg)
    restricted = _authorizer().restricted_cell(_identity(), cube, cell)
    return restricted if restricted is not None else cell


def _enforce_hierarchy_limits(cube: Any, drilldown_specs) -> None:
    """Reject drilldowns deeper than the identity's hierarchy limits
    (the reference only trims the presented model,
    blueprint.py:289-302; enforcing at query time is strictly
    stronger).  Limit entries: ``[dimension, hierarchy, deepest_level]``
    or ``{"dimension":…, "hierarchy":…, "level":…}``."""
    limits = _authorizer().hierarchy_limits(_identity(), cube.name)
    if not limits or not drilldown_specs:
        return

    from cubes_spark.query.drilldown import string_to_dimension_level

    normalized = {}
    for limit in limits:
        if isinstance(limit, dict):
            dim, hier, level = (limit.get("dimension"),
                                limit.get("hierarchy"), limit.get("level"))
        elif isinstance(limit, str):
            # the reference's documented 'dim@hier:level' string form —
            # iterating the string itself would shred it char-wise and
            # silently drop the restriction
            dim, hier, level = string_to_dimension_level(limit)
        else:
            dim, hier, level = (list(limit) + [None, None])[:3]
        normalized[(str(dim), str(hier) if hier else None)] = level

    for spec in drilldown_specs:
        dim, hier, level = string_to_dimension_level(spec)
        key = (str(dim), str(hier) if hier else None)
        allowed = normalized.get(key, normalized.get((str(dim), None)))
        if allowed is None:
            continue
        hierarchy = cube.dimension(dim).hierarchy(hier)
        names = [l.name for l in hierarchy.levels]
        if allowed not in names:
            raise ConfigurationError(
                f"Hierarchy limit level '{allowed}' is not a level of "
                f"hierarchy '{hierarchy}' in dimension '{dim}' "
                f"(levels: {names})"
            )
        # a spec without an explicit level drills to ONE level (the
        # next after the cell path), not the deepest — assuming the
        # deepest here would false-deny legitimate default drilldowns
        requested_depth = names.index(level) + 1 if level in names \
            else 1
        if requested_depth > names.index(allowed) + 1:
            raise NotAuthorized(
                f"Hierarchy of dimension '{dim}' is limited to level "
                f"'{allowed}' for this identity"
            )


def _split_list(value: str) -> list:
    """Split a list-valued query parameter.  The reference slicer
    separates items with ``|`` (blueprint.py:341-352); ``,`` is kept as
    an accepted alternative for this server's existing clients.  Empty
    items are dropped."""
    parts = []
    for item in value.split("|"):
        parts.extend(p for p in item.split(",") if p)
    return parts


def _int_arg(name: str) -> int:
    try:
        return int(request.args[name])
    except ValueError:
        raise ArgumentError(
            f"Invalid value '{request.args[name]}' for parameter "
            f"'{name}' — integer expected"
        )


def _common_params() -> dict:
    """Parse page/pagesize/order (parity: decorators.py:106-120)."""
    params: dict = {}
    if "page" in request.args:
        params["page"] = _int_arg("page")
    if "pagesize" in request.args:
        params["page_size"] = _int_arg("pagesize")
    order = request.args.getlist("order")
    if order:
        params["order"] = [
            part for item in order for part in _split_list(item)
        ]
    return params


# ---------------------------------------------------------------------------
# endpoints (parity: blueprint.py:228-607)
# ---------------------------------------------------------------------------


@slicer.route("/version")
def show_version() -> Response:
    return _json({
        "version": VERSION,
        "server_version": VERSION,
        "api_version": 2,
    })


@slicer.route("/")
def show_index() -> Response:
    """HTML landing page: server info + cube directory with links to
    the JSON API (parity: reference blueprint.py:227-233 show_index +
    server/templates/index.html, rendered directly — no template
    files).  Clients asking for JSON (Accept header) still get the
    version document, so API consumers hitting '/' keep working."""
    import html as _html

    # only clients that explicitly prefer HTML (browser-style Accept)
    # get the page; curl/scripts with no Accept or */* keep receiving
    # the version JSON '/' served before this page existed
    accept = request.headers.get("Accept", "")
    if "text/html" not in accept:
        return show_version()

    def esc(value: Any) -> str:
        return _html.escape("" if value is None else str(value))

    workspace = _workspace()
    # same visibility rule as /cubes: authenticate + authorize, so a
    # restricted deployment's cube names/labels don't leak on the page
    cubes = workspace.list_cubes()
    authorized = _authorizer().authorize(
        _identity(), [c["name"] for c in cubes])
    rows = []
    for info in (c for c in cubes if c["name"] in authorized):
        name = esc(info["name"])
        label = esc(info.get("label") or "")
        rows.append(
            f'<tr><td><a href="/cube/{name}/model">{name}</a></td>'
            f"<td>{label}</td>"
            f'<td><a href="/cube/{name}/aggregate">aggregate</a> '
            f'<a href="/cube/{name}/facts">facts</a></td></tr>')
    body = "\n".join([
        "<!DOCTYPE html>",
        "<html><head><title>Slicer server</title>",
        "<style>body{font-family:sans-serif;margin:2em}"
        "table{border-collapse:collapse}"
        "td,th{border:1px solid #ccc;padding:.4em .8em;text-align:left}"
        "</style></head><body>",
        "<h1>Slicer OLAP server</h1>",
        f"<p>version {esc(VERSION)} &middot; api 2 &middot; "
        f'<a href="/cubes">/cubes</a> &middot; '
        f'<a href="/info">/info</a> &middot; '
        f'<a href="/version">/version</a></p>',
        "<h2>Cubes</h2>",
        "<table><tr><th>cube</th><th>label</th><th>browse</th></tr>",
        *rows,
        "</table>",
        "</body></html>",
    ])
    return Response(body, mimetype="text/html")


@slicer.route("/logout")
def logout() -> Any:
    """Delegate to the authenticator (parity: reference
    blueprint.py:591-596) — plain-text for stateless methods, a 401 +
    WWW-Authenticate re-prompt for HTTP Basic variants."""
    authenticator: Authenticator = current_app.config["authenticator"]
    try:
        identity = _identity()
    except NotAuthenticated:
        identity = None
    return authenticator.logout(request, identity)


@slicer.route("/visualizer/")
@slicer.route("/visualizer/index.html")
def get_visualizer() -> Response:
    """Redirect to the configured visualizer URL (parity: reference
    blueprint.py:599-607)."""
    from flask import redirect

    viz = current_app.config.get("visualizer")
    if viz:
        return redirect(viz)
    return _json({"error": "not_found",
                  "message": "Visualizer not configured"}, 404)


@slicer.after_request
def _add_cors_headers(response: Response) -> Response:
    """CORS headers when allow_cors_origin is configured (parity:
    reference blueprint.py:609-625)."""
    origin = current_app.config.get("allow_cors_origin")
    if origin:
        if request.method == "OPTIONS":
            response.headers["Access-Control-Allow-Headers"] = \
                "X-Requested-With"
            response.headers["Access-Control-Allow-Origin"] = \
                request.headers.get("Origin", origin) \
                if origin == "*" else origin
        else:
            response.headers["Access-Control-Allow-Origin"] = origin
    return response


@slicer.route("/info")
def show_info() -> Response:
    return _json({
        "json_record_limit": current_app.config["json_record_limit"],
        "cubes_version": VERSION,
        "timezone": "UTC",
        "first_weekday": 0,
        "api_version": 2,
    })


@slicer.route("/cubes")
def list_cubes() -> Response:
    workspace = _workspace()
    cubes = workspace.list_cubes(locale=request.args.get("lang"))
    authorized = _authorizer().authorize(
        _identity(), [c["name"] for c in cubes]
    )
    return _json([c for c in cubes if c["name"] in authorized])


@slicer.route("/cube/<cube_name>/model")
def cube_model(cube_name: str) -> Response:
    cube = _cube(cube_name)
    lang = request.args.get("lang")
    if lang:
        cube = _workspace().cube(cube_name, locale=lang)
    return _json(cube.to_dict(expand_dimensions=True))


@slicer.route("/cube/<cube_name>/aggregate")
@cached_response("aggregate")
def aggregate(cube_name: str) -> Response:
    browser, cube = _browser(cube_name)
    cell = _restricted_cell(cube, browser, request.args.get("cut"))

    kwargs = _common_params()
    if "drilldown" in request.args:
        kwargs["drilldown"] = [
            part for item in request.args.getlist("drilldown")
            for part in _split_list(item)
        ]
        _enforce_hierarchy_limits(cube, kwargs["drilldown"])
    if "split" in request.args:
        kwargs["split"] = request.args["split"]
    if "aggregates" in request.args:
        kwargs["aggregates"] = _split_list(request.args["aggregates"])
    if "measures" in request.args:
        kwargs["measures"] = _split_list(request.args["measures"])

    with _log_time("aggregate", cube.name, cell):
        result = browser.aggregate(cell, **kwargs)

    output_format = request.args.get("format", "json")
    if output_format != "json":
        # formatter extension lookup: builtins (csv, xlsx,
        # cross_table, json_lines) plus any cubes_spark.formatter
        # entry point (parity: reference ext.py formatter finder)
        from cubes_spark import ext
        from cubes_spark.errors import ArgumentError as _ArgError, \
            InternalError as _IntError

        try:
            fmt = ext.formatter.create(output_format)
        except _IntError:
            raise _ArgError(f"unknown format '{output_format}'")
        # pivot parameters, passed only if the formatter's signature
        # accepts them (a try/except TypeError here would also mask
        # TypeErrors raised INSIDE the formatter and silently return
        # wrong-shaped data)
        import inspect

        try:
            accepted = set(
                inspect.signature(fmt.format).parameters)
        except (TypeError, ValueError):
            accepted = set()
        fmt_kwargs = {}
        for param in ("onrows", "oncolumns"):
            if param in request.args and param in accepted:
                fmt_kwargs[param] = _split_list(request.args[param])
        if "aggregates_on" in request.args \
                and "aggregates_on" in accepted:
            fmt_kwargs["aggregates_on"] = request.args["aggregates_on"]
        body = fmt.format(cube, result, **fmt_kwargs)
        return Response(body, mimetype=getattr(
            fmt, "mime_type", "application/octet-stream"))
    return _json(result.to_dict())


@slicer.route("/cube/<cube_name>/facts")
@cached_response("facts")
def cube_facts(cube_name: str) -> Response:
    browser, cube = _browser(cube_name)
    cell = _restricted_cell(cube, browser, request.args.get("cut"))

    kwargs = _common_params()
    fields = request.args.get("fields")
    if fields:
        kwargs["fields"] = _split_list(fields)
    if "page_size" not in kwargs:
        kwargs["page_size"] = current_app.config["json_record_limit"]

    with _log_time("facts", cube.name, cell):
        df = browser.facts(cell, **kwargs)
        rows = [row.asDict() for row in df.collect()]

    output_format = request.args.get("format", "json")
    if output_format == "csv":
        from cubes_spark.formatters import csv_generator

        field_names = df.columns
        body = "".join(csv_generator(rows, field_names))
        return Response(body, mimetype="text/csv")
    return _json(rows)


@slicer.route("/cube/<cube_name>/fact/<fact_id>")
@cached_response("fact")
def cube_fact(cube_name: str, fact_id: str) -> Response:
    browser, cube = _browser(cube_name)
    try:
        key: Any = int(fact_id)
    except ValueError:
        key = fact_id
    # fact lookup honors the identity's restriction cell: key
    # enumeration must not read rows outside it (the /facts listing
    # already enforces this)
    restriction = _restricted_cell(cube, browser, None)
    with _log_time("fact", cube.name):
        row = browser.fact(
            key, cell=restriction if restriction.cuts else None)
    if row is None:
        return _json({"error": "not_found",
                      "message": f"No fact '{fact_id}'"}, 404)
    return _json(row)


@slicer.route("/cube/<cube_name>/members/<dimension_name>")
@cached_response("members")
def cube_members(cube_name: str, dimension_name: str) -> Response:
    browser, cube = _browser(cube_name)
    cell = _restricted_cell(cube, browser, request.args.get("cut"))

    kwargs = _common_params()
    depth = request.args.get("depth")
    level = request.args.get("level")
    if depth:
        kwargs["depth"] = _int_arg("depth")
    if level:
        kwargs["level"] = level
    hierarchy = request.args.get("hierarchy")

    with _log_time("members", cube.name, cell, dimension=dimension_name):
        members = browser.members(cell, dimension_name,
                                  hierarchy=hierarchy, **kwargs)
    dimension = cube.dimension(dimension_name)
    return _json({
        "dimension": dimension.name,
        "hierarchy": str(dimension.hierarchy(hierarchy)),
        "data": members,
    })


@slicer.route("/cube/<cube_name>/cell")
@cached_response("cell")
def cube_cell(cube_name: str) -> Response:
    browser, cube = _browser(cube_name)
    cell = _restricted_cell(cube, browser, request.args.get("cut"))
    # serialize only the PUBLIC cuts: the authorizer's hidden
    # restriction cuts must not be disclosed to the client
    public = cell.public_cell()
    with _log_time("cell", cube.name, cell):
        details = browser.cell_details(public)
    cell_dict = public.to_dict()
    for cut, detail in zip(cell_dict["cuts"], details):
        cut["details"] = detail
    return _json(cell_dict)


@slicer.route("/cube/<cube_name>/report", methods=["GET", "POST"])
def cube_report(cube_name: str) -> Response:
    """Batched report (parity: blueprint.py:507-538 — the reference
    route accepts GET as well as POST, reading the JSON request body
    either way; for bodyless GETs the spec may also arrive in the
    ``queries`` / ``cell`` URL parameters)."""
    browser, cube = _browser(cube_name)
    payload = request.get_json(force=True, silent=True) or {}
    if not payload and request.args.get("queries"):
        import json as _stdjson

        try:
            payload = {"queries": _stdjson.loads(request.args["queries"])}
        except ValueError:
            raise ArgumentError("'queries' parameter is not valid JSON")
        if request.args.get("cell"):
            try:
                payload["cell"] = _stdjson.loads(request.args["cell"])
            except ValueError:
                raise ArgumentError("'cell' parameter is not valid JSON")
    queries = payload.get("queries")
    if not queries:
        raise ArgumentError("Report request does not contain 'queries'")
    cell_arg = payload.get("cell") or request.args.get("cut")
    cell = _restricted_cell(cube, browser, cell_arg)
    with _log_time("report", cube.name, cell):
        result = browser.report(cell, queries)
    return _json(result)


@slicer.route("/cube/<cube_name>/search")
def cube_search(cube_name: str) -> Response:
    """Member search (parity: blueprint.py:542-575).  Like the
    reference — which delegates to an external engine selected by the
    ``[search] engine`` config — the backend is a ``searcher``
    extension resolved through the ExtensionFinder (built-in:
    ``simple``, a pruned-star substring scan; custom engines register
    a ``cubes_spark.searcher`` entry point or ``ext.searcher
    .register()``)."""
    browser, cube = _browser(cube_name)
    dimension_name = request.args.get("dimension")
    if not dimension_name:
        raise ArgumentError("No search dimension provided")
    query = request.args.get("q") or request.args.get("query")
    if not query:
        raise ArgumentError("No search query provided")
    # search obeys the identity's restriction cell exactly like
    # /members — otherwise it becomes a side channel that enumerates
    # the member values the restriction was configured to hide
    cell = _restricted_cell(cube, browser, request.args.get("cut"))

    dimension = cube.dimension(dimension_name)
    hierarchy = dimension.hierarchy(request.args.get("hierarchy"))
    limit = current_app.config["json_record_limit"]

    from cubes_spark import ext
    from cubes_spark.errors import InternalError as _IntError

    search_config = dict(current_app.config.get("search") or {})
    engine_name = search_config.pop("engine", "simple")
    try:
        engine = ext.searcher.create(engine_name, browser=browser,
                                     **search_config)
    except _IntError:
        raise ArgumentError(f"Unknown search engine '{engine_name}'")

    with _log_time("search", cube.name, None, dimension=dimension_name):
        matches = engine.search(query, dimension,
                                hierarchy=hierarchy.name, cell=cell,
                                limit=limit)
    return _json({
        "dimension": dimension.name,
        "hierarchy": hierarchy.name,
        "query": query,
        "total_found": len(matches),
        "matches": matches[:limit],
    })
