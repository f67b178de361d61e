"""Workspace: SparkSession + model registry + table catalog.

Parity: /root/reference/cubes/workspace.py:55-657 (Workspace),
/root/reference/cubes/metadata/providers.py:156-432 (model provider,
dimension templates, cube linking), /root/reference/cubes/sql/store.py
(store = connection + naming; here a store is a directory of parquet
files or any ``{name: DataFrame}`` mapping).

The reference resolves stores via config files and SQLAlchemy engine
URLs; here a *store* is a table catalog for Spark:

* :class:`ParquetStore` — lazily reads ``<dir>/<table>.parquet``
* any dict ``{name: DataFrame}`` works as well
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import weakref
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubes_spark.errors import (
    ArgumentError,
    ModelError,
    NoSuchCubeError,
    NoSuchDimensionError,
    StoreError,
)
from cubes_spark.metadata.cube import Cube
from cubes_spark.metadata.dimension import Dimension
from cubes_spark.namespace import Namespace
from cubes_spark.operators.browser import SparkBrowser
from cubes_spark.plans.mapper import Naming, distill_naming, safe_name

__all__ = ["Workspace", "ParquetStore", "read_model", "default_session",
           "session_config"]


def session_config(cpus: int, shuffle_partitions: Optional[int] = None,
                   master: Optional[str] = None) -> Dict[str, str]:
    """Spark config of :func:`default_session`.  ``master`` is
    ``SPARK_MASTER`` (None: ``local[cpus]``); the worker-daemon settings
    name this checkout, so they apply to a local master only — remote
    executors use their own Python environment."""
    config = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cpus, 8)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if not master:
        config.update({
            "spark.master": f"local[{cpus}]",
            # preload numpy/pandas/pyarrow in the worker daemon: forked
            # workers inherit the imports copy-on-write instead of
            # paying ~0.5 s of import per worker process (guide §4.5)
            "spark.python.daemon.module": "cubes_spark.pydaemon",
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(
                [os.path.dirname(os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__))))]
                + ([os.environ["PYTHONPATH"]]
                   if os.environ.get("PYTHONPATH") else [])),
        })
    return config


def default_session(app_name: str = "cubes_spark",
                    shuffle_partitions: Optional[int] = None) -> SparkSession:
    """SparkSession with scale-appropriate defaults.

    AQE on: runtime shuffle-partition coalescing, skew-join splitting
    and dynamic broadcast conversion — the knobs that make one config
    work from sf0.001 local tests to a 1000-executor cluster.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = SparkSession.builder.appName(app_name)
    for key, value in session_config(
            cpus, shuffle_partitions,
            os.environ.get("SPARK_MASTER")).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def _nanos_timestamp_columns(location: str) -> list:
    """Names of TIMESTAMP(NANOS) columns in a parquet file/directory
    (via pyarrow footer inspection; empty on any inspection failure —
    the plain read then raises Spark's own clear error)."""
    try:
        import pyarrow.parquet as pq

        path = location
        if os.path.isdir(location):
            parts = [f for f in sorted(os.listdir(location))
                     if f.endswith(".parquet")]
            if not parts:
                return []
            path = os.path.join(location, parts[0])
        schema = pq.read_schema(path)
        candidates = [
            field.name for field in schema
            if str(field.type) in ("timestamp[ns]", "timestamp[ns, tz=UTC]")
        ]
        if not candidates:
            return []
        # pyarrow ALSO reports legacy Spark INT96 timestamps as
        # timestamp[ns]; those read natively as TIMESTAMP and must NOT
        # take the nanosAsLong + div-1000 path — check the parquet
        # PHYSICAL type and keep only true INT64 TIMESTAMP(NANOS)
        phys = pq.ParquetFile(path).schema
        int96 = {
            phys.column(i).name
            for i in range(len(phys))
            if phys.column(i).physical_type == "INT96"
        }
        return [name for name in candidates if name not in int96]
    except Exception:
        return []


def _ntz_as_timestamp(df: DataFrame) -> DataFrame:
    """`df` with its TIMESTAMP_NTZ columns cast to TIMESTAMP.  Event-time
    ops (watermarks, windows, unix_micros) require TIMESTAMP, and with
    the session timezone pinned to UTC the wall-clock values are
    identical — normalized at the store boundary so mixed-provenance
    data behaves uniformly."""
    for fld in df.schema.fields:
        if fld.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


class ParquetStore:
    """Lazily-loading table catalog over a directory of data files
    (the Spark analogue of the reference's SQL store,
    /root/reference/cubes/sql/store.py:111-179).

    Parquet is the primary format; a table may instead be backed by
    ``.orc``, ``.csv`` / ``.tsv`` (header + schema inference) or
    ``.json`` / ``.jsonl`` (JSON lines) — resolved in that priority
    order, all reading through the same Spark scan machinery
    (columnar pushdown for parquet/orc; CSV/JSON are the ingest
    formats a pipeline normalizes INTO parquet)."""

    #: resolution priority: columnar formats shadow row formats
    EXTENSIONS = (".parquet", ".orc", ".csv", ".tsv",
                  ".json", ".jsonl")

    def __init__(self, spark: SparkSession, path: str,
                 naming: Optional[dict] = None) -> None:
        self.spark = spark
        self.path = path
        self.naming = distill_naming(naming or {})
        self._cache: Dict[str, DataFrame] = {}
        # one DataFrame per table, also under concurrent first reads
        self._lock = threading.Lock()

    def _locate(self, name: str):
        for ext in self.EXTENSIONS:
            location = os.path.join(self.path, name + ext)
            if os.path.exists(location):
                return location, ext
        return None, None

    def table(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self._cache:
                location, ext = self._locate(name)
                if location is None:
                    raise StoreError(
                        f"No table '{name}' in store at {self.path} "
                        f"(formats: {'/'.join(self.EXTENSIONS)})"
                    )
                if ext == ".parquet":
                    self._cache[name] = self._read(location)
                else:
                    self._cache[name] = self._read_other(location, ext)
            return self._cache[name]

    def _read_other(self, location: str, ext: str) -> DataFrame:
        """Non-parquet formats; timestamps normalize to TIMESTAMP
        exactly like the parquet path (UTC session, NTZ cast)."""
        if ext == ".orc":
            df = self.spark.read.orc(location)
        elif ext in (".csv", ".tsv"):
            df = (self.spark.read
                  .option("header", "true")
                  .option("inferSchema", "true")
                  .option("sep", "\t" if ext == ".tsv" else ",")
                  .csv(location))
        else:                                  # .json / .jsonl
            df = self.spark.read.json(location)
        return _ntz_as_timestamp(df)

    def _read(self, location: str) -> DataFrame:
        """Read parquet, transparently handling TIMESTAMP(NANOS)
        columns Spark cannot read natively: they are read as epoch-ns
        longs (``nanosAsLong``) and converted to µs timestamps with
        INTEGER division (double division loses precision above
        2^53)."""
        # naive parquet timestamps (micros/millis) read as TIMESTAMP
        # rather than TIMESTAMP_NTZ: event-time ops (watermarks,
        # windows) require TIMESTAMP, and with the session timezone
        # pinned to UTC the wall-clock values are identical.
        # DELIBERATELY session-sticky (not save/restore): Spark
        # captures parquet options when a scan is PLANNED, so
        # restoring the conf after this lazy read would flip semantics
        # under still-unexecuted store frames; every engine read goes
        # through this store, which compensates for both settings
        self.spark.conf.set(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        nanos_cols = _nanos_timestamp_columns(location)
        if nanos_cols:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                                "true")
        df = self.spark.read.parquet(location)
        for col in nanos_cols:
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        # Spark-written parquet EMBEDS its schema in file metadata;
        # a file written from a TIMESTAMP_NTZ frame stays NTZ on read
        # no matter what inferTimestampNTZ says (that conf only
        # affects *inference* for foreign files)
        return _ntz_as_timestamp(df)

    def __getitem__(self, name: str) -> DataFrame:
        return self.table(name)

    def __contains__(self, name: str) -> bool:
        return name in self._cache or self._locate(name)[0] is not None

    def list_tables(self) -> list:
        """Schema inspection (parity: sql/store.py:631-661)."""
        names = []
        seen = set()
        for entry in sorted(os.listdir(self.path)):
            for ext in self.EXTENSIONS:
                if entry.endswith(ext):
                    stem = entry[: -len(ext)]
                    if stem not in seen:
                        seen.add(stem)
                        names.append(stem)
                    break
        return sorted(names)

    def keys(self) -> list:
        return self.list_tables()


#: numbers the persisted stars of this process (``STAR_MARKER`` values)
_STAR_BUILDS = itertools.count(1)
#: held while table expressions swap their tables in as temp views, so
#: workspaces sharing a session do not see each other's
_TEMP_VIEWS = threading.Lock()


def _unpersist_stars(stars: Dict[tuple, Optional[DataFrame]]) -> None:
    """Unpersist and forget `stars`; a stopped Spark context took its
    cache with it."""
    for star in stars.values():
        if star is not None and \
                star.sparkSession.sparkContext._jsc is not None:
            star.unpersist()
    stars.clear()


def _catalog_change(method):
    """A Workspace method that changes the catalog: the drop follows the
    change, also one that fails part-way, so nothing built between the
    two outlives it."""
    @functools.wraps(method)
    def change(self, *args, **kwargs):
        try:
            return method(self, *args, **kwargs)
        finally:
            self._drop_stars()
    return change


def read_model(metadata: Any) -> dict:
    """Load model metadata from a dict, JSON file path or a bundle
    directory.  A bundle holds ``model.json`` plus per-object
    ``dim_<name>.json`` / ``cube_<name>.json`` files that merge into
    the model's ``dimensions`` / ``cubes`` lists (parity:
    metadata/base.py:161-226 read_model_metadata_bundle)."""
    if isinstance(metadata, dict):
        return metadata
    if isinstance(metadata, str):
        if os.path.isdir(metadata):
            return _read_model_bundle(metadata)
        with open(metadata, encoding="utf-8") as f:
            return json.load(f)
    raise ArgumentError(f"Unknown model metadata: {metadata!r}")


def _read_model_bundle(path: str) -> dict:
    with open(os.path.join(path, "model.json"), encoding="utf-8") as f:
        model = json.load(f)
    dimensions = list(model.get("dimensions") or [])
    cubes = list(model.get("cubes") or [])
    for fname in sorted(os.listdir(path)):
        full = os.path.join(path, fname)
        if not fname.endswith(".json"):
            continue
        if fname.startswith("dim_"):
            with open(full, encoding="utf-8") as f:
                dimensions.append(json.load(f))
        elif fname.startswith("cube_"):
            with open(full, encoding="utf-8") as f:
                cubes.append(json.load(f))
    if dimensions:
        model["dimensions"] = dimensions
    if cubes:
        model["cubes"] = cubes
    return model


def write_model_bundle(path: str, metadata: dict,
                       replace: bool = False) -> None:
    """Write model metadata as a bundle directory (parity:
    metadata/base.py:228-267)."""
    import shutil

    if os.path.exists(path):
        if not os.path.isdir(path):
            raise ArgumentError(
                "Target exists and is a file, can not replace"
            )
        if not os.path.exists(os.path.join(path, "model.json")):
            raise ArgumentError(
                "Target is not a model directory, can not replace"
            )
        if not replace:
            raise ArgumentError(
                "Target already exists. Remove it or force replacement."
            )
        shutil.rmtree(path)
    os.makedirs(path)

    metadata = dict(metadata)
    dimensions = metadata.pop("dimensions", [])
    cubes = metadata.pop("cubes", [])
    for dim in dimensions:
        with open(os.path.join(path, f"dim_{dim['name']}.json"),
                  "w", encoding="utf-8") as f:
            json.dump(dim, f, indent=4)
    for cube in cubes:
        with open(os.path.join(path, f"cube_{cube['name']}.json"),
                  "w", encoding="utf-8") as f:
            json.dump(cube, f, indent=4)
    with open(os.path.join(path, "model.json"), "w",
              encoding="utf-8") as f:
        json.dump(metadata, f, indent=4)


class Workspace:
    """Model registry + browser factory.

    Usage::

        spark = default_session()
        ws = Workspace(spark, store="/root/testdata/sf0.01")
        ws.import_model(model_dict_or_path)
        browser = ws.browser("sales")
        result = browser.aggregate(cell="date:1995", drilldown=["date:month"])
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        store: Any = None,
        model: Any = None,
        naming: Optional[dict] = None,
    ) -> None:
        self.spark = spark or default_session()
        self.naming = Naming(naming or {})

        # model registry: a hierarchy of namespaces (parity:
        # namespace.py wiring in reference workspace.py:55-657)
        self.root = Namespace()
        #: the latest registration of each table name: a DataFrame, or
        #: the SQL of a table expression
        self._tables: Dict[str, Any] = {}
        self.store: Optional[ParquetStore] = None
        #: named stores beyond the default (parity: reference
        #: workspace.py store_infos / get_store; a cube's ``store``
        #: metadata selects one by name, "default" = self.store)
        self.stores: Dict[str, ParquetStore] = {}
        #: each cube's persisted star, or None where its gates fail
        #: (plans/star.py StarSchema.persist_star), keyed by (cube,
        #: fact), and each evaluated table expression, by (name, sql).
        #: Built on first need under the lock (re-entered by an
        #: expression that references another; a cached expression is
        #: read without it); dropped after models, tables or stores
        #: change, and the stars also when the workspace is collected
        #: (not at exit: the cache ends with the process).
        #: The generation tells browsers made before a drop that the
        #: stars are not theirs.
        self._stars: Dict[tuple, Optional[DataFrame]] = {}
        self._expressions: Dict[tuple, Optional[DataFrame]] = {}
        self._lock = threading.RLock()
        self._generation = 0
        weakref.finalize(self, _unpersist_stars,
                         self._stars).atexit = False

        if store is not None:
            self.set_store(store)
        if model is not None:
            self.import_model(model)

    @_catalog_change
    def register_store(self, name: str, store: Any) -> None:
        """Register a named store (path, ParquetStore, a remote
        SlicerHTTPStore, or a ``{"type": ..., ...}`` dict resolved via
        the store extension registry).  ``default`` replaces the
        default store (parity: reference workspace.py:308-340
        _register_store_dict)."""
        from cubes_spark.sources.slicer import SlicerHTTPStore

        store = self._open_store(store)
        if not isinstance(store, (ParquetStore, SlicerHTTPStore)):
            raise ArgumentError(f"Unknown store: {store!r}")
        if isinstance(store, SlicerHTTPStore):
            # remote stores don't serve local tables; they register by
            # name and bind to cubes via import_slicer()
            self.stores[name] = store
            return
        if name == "default":
            self.store = store
        else:
            self.stores[name] = store

    def get_store(self, name: Optional[str] = None) -> ParquetStore:
        if name in (None, "default"):
            if self.store is None:
                raise StoreError("No default store configured")
            return self.store
        try:
            return self.stores[name]
        except KeyError:
            raise StoreError(
                f"Unknown store '{name}' "
                f"(registered: {sorted(self.stores)})")

    # -- persisted stars ---------------------------------------------------

    def _drop_stars(self) -> None:
        """Unpersist every cube's star and forget every evaluated table
        expression; the next request that needs one builds it again."""
        with self._lock:
            self._generation += 1
            _unpersist_stars(self._stars)
            self._expressions.clear()

    def _star_source(self, cube_name: str):
        """``persisted`` callable of a browser of `cube_name`: the
        cube's star, built once by the first request that needs it."""
        generation = self._generation

        def persisted(schema: Any) -> Optional[DataFrame]:
            key = (cube_name, schema.fact_name)
            with self._lock:
                if generation != self._generation:
                    return None
                if key not in self._stars:
                    self._stars[key] = schema.persist_star(
                        next(_STAR_BUILDS))
                return self._stars[key]
        return persisted

    # -- stores / tables ---------------------------------------------------

    def _open_store(self, spec: Any) -> Any:
        """The store `spec` names: a path or a ``{"type": "parquet" |
        "spark", "path": ...}`` dict (type defaults to parquet) opens a
        ParquetStore, another typed dict goes through the store
        extension registry (parity: reference slicer.ini [store]
        type=...), anything else is returned as it is."""
        if isinstance(spec, str):
            spec = {"path": spec}
        if not isinstance(spec, dict):
            return spec
        options = dict(spec)
        type_ = options.pop("type", "parquet")
        if type_ in ("parquet", "spark"):
            return ParquetStore(self.spark, options["path"], self.naming)
        from cubes_spark import ext
        return ext.store.create(type_, **options)

    @_catalog_change
    def set_store(self, store: Any) -> None:
        """The default store (see :meth:`_open_store`), or an untyped
        ``{name: DataFrame}`` dict of tables.  A remote ``type: slicer``
        store auto-imports the remote model, matching the reference's
        related_model_provider UX."""
        from cubes_spark.sources.slicer import SlicerHTTPStore

        if isinstance(store, dict) and "type" not in store:
            self._tables.update(store)
            return
        opened = self._open_store(store)
        if isinstance(opened, ParquetStore):
            self.store = opened
        elif isinstance(store, dict) and isinstance(opened, SlicerHTTPStore):
            self.stores.setdefault("slicer", opened)
            self.import_slicer(opened)
        else:
            raise ArgumentError(f"Unknown store: {store!r}")

    @_catalog_change
    def add_table(self, name: str, df: DataFrame) -> None:
        self._tables[name] = df

    @_catalog_change
    def add_table_expression(self, name: str, sql: str) -> None:
        """NAMED TABLE EXPRESSION as a SQL string over the tables this
        workspace resolves (registered DataFrames, other expressions,
        the default store).  Declarative — models carry them in a
        ``table_expressions`` section, so config-loaded workspaces
        (server, CLI) resolve them too.  Evaluated lazily through
        Catalyst: filters/projections inside the expression push into
        the parquet scan like any view."""
        self._tables[name] = sql

    def table(self, name: str, store: Optional[str] = None) -> DataFrame:
        """Resolve a table: the latest registration of `name` first,
        then the selected store (``store`` names a registered store;
        default otherwise)."""
        registered = self._tables.get(name)
        if isinstance(registered, str):
            return self._expression(name, registered)
        if registered is not None:
            return registered
        return self._store_table(name, store)

    def _store_table(self, name: str,
                     store: Optional[str] = None) -> DataFrame:
        if store not in (None, "default"):
            named = self.get_store(store)
            if name in named:
                return named.table(name)
            raise StoreError(
                f"Unknown table '{name}' in store '{store}'")
        if self.store is not None and name in self.store:
            return self.store.table(name)
        raise StoreError(f"Unknown table '{name}'")

    def _expression(self, name: str, sql: str) -> DataFrame:
        """The table expression `name` = `sql`, evaluated once until the
        next drop; expressions that reach each other raise.  Keyed by
        its SQL too, so a read that took the SQL before a registration
        replaced it caches nothing the next reads would get."""
        key = (name, sql)
        df = self._expressions.get(key)
        if df is not None:
            return df
        with self._lock:
            if key not in self._expressions:
                self._expressions[key] = None      # being evaluated
                try:
                    self._expressions[key] = \
                        self._eval_table_expression(name, sql)
                except BaseException:
                    self._expressions.pop(key, None)
                    raise
            df = self._expressions[key]
        if df is None:
            raise StoreError(f"Cyclic table expressions through '{name}'")
        return df

    def _eval_table_expression(self, name: str, sql: str) -> DataFrame:
        """spark.sql over temp views of the tables `sql` references,
        each resolved by :meth:`table`, as a browser resolves it; its
        own `name` means the default store's table of that name.  The
        session's own temp views of those names are put back after the
        SQL is analyzed.

        Only identifiers that textually appear in the SQL (word-boundary
        match) are resolved — a store with hundreds of tables must not
        pay a footer-inspect + DataFrame construction per table for one
        expression.  A referenced expression is evaluated first, so
        declaration order never matters."""
        import re as _re

        names = dict.fromkeys(self._tables)
        names.update(dict.fromkeys(
            self.store.list_tables() if self.store else []))
        tables = {}
        for other in names:
            if _re.search(rf"\b{_re.escape(other)}\b", sql) is None:
                continue
            try:
                df = (self._store_table(other) if other == name
                      else self.table(other))
            except Exception:
                if other != name and other in self._tables:
                    raise
                # e.g. parquet types Spark cannot read natively (an
                # expression reading such a table fails below with a
                # clear analysis error), or the expression's own name
                # with no store table of that name
                continue
            tables[other] = df
        catalog = self.spark.catalog
        with _TEMP_VIEWS:
            saved = {other: self.spark.table(other) for other in tables
                     if catalog.tableExists(other)
                     and catalog.getTable(other).isTemporary}
            try:
                for other, df in tables.items():
                    df.createOrReplaceTempView(other)
                # analyzed here: the DataFrame no longer reads the views
                return self.spark.sql(sql)
            finally:
                for other in tables:
                    if other in saved:
                        saved[other].createOrReplaceTempView(other)
                    else:
                        catalog.dropTempView(other)

    # -- model -------------------------------------------------------------

    @_catalog_change
    def import_model(self, metadata: Any,
                     namespace: Optional[str] = None,
                     provider: Any = None) -> None:
        """Load dimensions and cubes from model metadata into
        ``namespace`` (dotted path, created on demand; default root).
        Dimension ``template`` references resolve against dimensions
        visible from that namespace — its own and every ancestor's
        (parity: providers.py:156-432; namespaces:
        reference workspace.py:240-260).  A model may also carry
        ``translations``: ``{locale: translation-dict-or-path}``,
        registered on the same namespace.

        ``provider`` selects a ``model_provider`` extension (parity:
        reference ext.py:75-260): a registry name, a ModelProvider
        instance, or a provider class — it receives ``metadata`` as
        its source and its :meth:`model_metadata` result is imported.
        Default (None): ``metadata`` is the model itself."""
        if provider is not None:
            from cubes_spark import ext
            from cubes_spark.metadata.providers import ModelProvider

            if isinstance(provider, str):
                provider = ext.model_provider.create(provider, metadata)
            elif isinstance(provider, type):
                provider = provider(metadata)
            if not isinstance(provider, ModelProvider) and \
                    not hasattr(provider, "model_metadata"):
                raise ArgumentError(
                    f"Not a model provider: {provider!r}")
            metadata = provider.model_metadata()
        metadata = read_model(metadata)
        ns, _ = self.root.namespace(namespace, create=True)

        for name, sql in (metadata.get("table_expressions") or {}).items():
            self.add_table_expression(name, sql)

        for locale, trans in (metadata.get("translations") or {}).items():
            ns.add_translation(locale, trans)

        visible: Dict[str, Dimension] = {}
        chain = []
        cursor: Optional[Namespace] = ns
        while cursor is not None:
            chain.append(cursor)
            cursor = cursor.parent
        for cursor in reversed(chain):   # root first, nearest wins
            visible.update(cursor.dimensions)

        for dim_md in metadata.get("dimensions", []):
            dim = Dimension.from_metadata(dim_md, templates=visible)
            ns.dimensions[dim.name] = dim
            visible[dim.name] = dim

        for cube_md in metadata.get("cubes", []):
            cube = Cube.from_metadata(cube_md)
            for link in cube.dimension_links:
                name = link["name"]
                try:
                    dim = visible[name]
                except KeyError:
                    # implicit flat dimension from a bare name
                    dim = Dimension.from_metadata(name)
                    ns.dimensions.setdefault(name, dim)
                    visible[name] = dim
                cube.link_dimension(dim)
            ns.add_cube(cube)

    def import_slicer(self, store: Any,
                      namespace: Optional[str] = None,
                      cubes: Optional[list] = None) -> list:
        """Federate a remote Slicer server into this workspace: fetch
        its cube list and models, register each as a cube whose
        browser relays over HTTP (parity: reference server/store.py
        SlicerStore + SlicerModelProvider — the remote engine
        aggregates; results are relayed).  ``store`` is a URL string,
        an options dict, or a SlicerHTTPStore.  Returns the imported
        cube names."""
        from cubes_spark.sources.slicer import SlicerHTTPStore

        if isinstance(store, str):
            store = SlicerHTTPStore(url=store)
        elif isinstance(store, dict):
            store = SlicerHTTPStore(**store)
        ns, _ = self.root.namespace(namespace, create=True)
        names = []
        for info in store.list_cubes():
            name = info["name"] if isinstance(info, dict) else str(info)
            if cubes is not None and name not in cubes:
                continue
            ns.add_cube(store.cube(name))
            names.append(name)
        return names

    @_catalog_change
    def add_cube(self, cube: Cube) -> None:
        """Register `cube` in the root namespace, replacing a cube of
        the same name."""
        self.root.cubes[cube.name] = cube

    def add_dimension(self, dimension: Dimension) -> None:
        self.root.add_dimension(dimension)

    def add_translation(self, locale: str, translation: Any,
                        namespace: Optional[str] = None) -> None:
        """Register a model-label translation on a namespace (parity:
        reference workspace.py:301-306)."""
        ns, _ = self.root.namespace(namespace, create=True)
        ns.add_translation(locale, translation)

    def cube(self, name: str, locale: Optional[str] = None) -> Cube:
        """Cube by (possibly dotted namespaced) reference.  With
        ``locale``, a translated presentation copy (parity: reference
        workspace.py:530-553)."""
        import copy as _copy

        ns, cube = self.root.find_cube(name)
        if cube.name != str(name):
            # namespaced access: present the full reference as the name
            # on a shallow copy (the registry object stays untouched)
            cube = _copy.copy(cube)
            cube.name = str(name)
        if locale:
            cube = self._localized_cube(ns, cube, locale)
        return cube

    def _localized_cube(self, ns: Namespace, cube: Cube,
                        locale: str) -> Cube:
        from cubes_spark.metadata.localization import (
            LocalizationContext,
            localized_cube,
        )

        basename = cube.name.rsplit(".", 1)[-1]
        merged: dict = {}
        dim_fallback: dict = {}
        # farthest namespace first so nearer translations win
        for trans in reversed(ns.translation_lookup(locale)):
            entry = (trans.get("cubes") or {}).get(basename)
            if isinstance(entry, str):
                entry = {"label": entry}
            if entry:
                dims = dict(merged.get("dimensions") or {})
                merged.update(entry)
                dims.update(entry.get("dimensions") or {})
                merged["dimensions"] = dims
            # global dimension translations fill cube-local gaps
            for dname, dtrans in (trans.get("dimensions") or {}).items():
                dim_fallback[dname] = dtrans
        dims = dict(dim_fallback)
        dims.update(merged.get("dimensions") or {})
        if dims:
            merged["dimensions"] = dims
        if not merged:
            return cube
        clone = localized_cube(cube, LocalizationContext(merged))
        clone.locale = locale
        return clone

    def dimension(self, name: str,
                  namespace: Optional[str] = None) -> Dimension:
        ns, remainder = self.root.namespace(namespace)
        if remainder:
            raise NoSuchDimensionError(
                f"Unknown namespace '{namespace}'", name=name
            )
        return ns.dimension(name)

    def list_cubes(self, recursive: bool = True,
                   locale: Optional[str] = None) -> list:
        """Cube info dicts; namespaced cubes appear with dotted names.
        With ``locale``, labels come from registered translations."""
        infos = self.root.list_cubes(recursive=recursive)
        if locale:
            localized = []
            for info in infos:
                info = dict(info)
                ref = info["name"]
                ns, _cube = self.root.find_cube(ref)
                basename = ref.rsplit(".", 1)[-1]
                for trans in ns.translation_lookup(locale):
                    entry = (trans.get("cubes") or {}).get(basename)
                    if isinstance(entry, str):
                        info["label"] = entry
                        break
                    if isinstance(entry, dict) and "label" in entry:
                        info["label"] = entry["label"]
                        break
                localized.append(info)
            infos = localized
        return infos

    # -- browsing ------------------------------------------------------------

    def browser(self, cube: Any, locale: Optional[str] = None,
                **options: Any) -> SparkBrowser:
        if isinstance(cube, str):
            cube = self.cube(cube)
        # a cube bound to a remote Slicer store browses over HTTP —
        # the remote engine aggregates, results are relayed (parity:
        # reference server/browser.py SlicerBrowser)
        from cubes_spark.sources.slicer import (
            SlicerBrowser, SlicerHTTPStore)
        bound = getattr(cube, "store", None)
        if isinstance(bound, SlicerHTTPStore):
            return SlicerBrowser(cube, bound, locale=locale, **options)
        return SparkBrowser(
            cube, functools.partial(self.table, store=cube.store),
            locale=locale, naming=self.naming,
            persisted=self._star_source(cube.name), **options
        )

    def register_sql_views(self, cubes: Optional[list] = None,
                           prefix: str = "cube_") -> list:
        """Expose each cube's denormalized star as a Spark SQL temp
        view ``<prefix><cube>`` so analysts can query the model with
        raw ``spark.sql`` — an access path beyond the reference, which
        offers only the browser/HTTP surface (its ``sql`` module is a
        statement GENERATOR, never a user query interface).

        Views are LAZY logical plans (no materialization): column
        pruning and filter pushdown reach the scans as usual.  One
        honest caveat vs the browser: the view joins EVERY dimension
        (Catalyst cannot eliminate an inner join without key-uniqueness
        metadata), while the browser's star builder joins only the
        tables the requested attributes need — for join-pruned plans
        over a wide snowflake, query through the browser; the view is
        the ad-hoc SQL convenience surface (dimensions broadcast, so
        the extra joins are map-side).  Attribute refs translate dots
        to ``__`` (``date.year`` → ``date__year``) so no quoting is
        needed.  Returns the view names."""
        from cubes_spark.operators.preagg import safe_columns

        names = []
        for info in self.list_cubes():
            name = info["name"]
            if cubes is not None and name not in cubes:
                continue
            # no persisted star: the view stays a lazy plan
            cube = self.cube(name)
            browser = SparkBrowser(
                cube, functools.partial(self.table, store=cube.store),
                naming=self.naming)
            view = prefix + safe_name(name)
            safe_columns(browser.denormalized_dataframe()) \
                .createOrReplaceTempView(view)
            names.append(view)
        return names
