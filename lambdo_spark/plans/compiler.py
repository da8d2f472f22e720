"""JSON workflow spec → topo-sorted DataFrame stages.

The successor of lambdo's Workflow/Table/Column/Topology machinery
(/root/reference/lambdo/Workflow.py:27-46, Table.py:17-22,
Column.py:17-24, Topology.py:18-30), re-imagined:

- a *table definition* compiles to one DataFrame (lazy, immutable)
  through the op table ``_OPS`` — lambdo's own design, JSON definitions
  resolved to functions. Each entry names the op's callable as a
  ``module:attr`` ref (resolved when the table builds), the JSON keys it
  accepts and the keys naming its input tables, and optionally a stream
  twin. Values reach the callable by keyword, so every default is the
  callable's own; the table dependencies derive from the entries, and an
  unknown op or key is refused when the Workflow is constructed. A new
  op is one ``_OPS`` entry plus its row in docs/workflow_spec.md;
- *column definitions* go through the column op table ``_COLUMN_OPS``
  the same way, each one withColumn/join stage;
- ``extensions`` desugar compiler-side into N concrete columns
  (reference utils.py:13-36, expansion Table.py:48-63);
- dependency stratification is the same Kahn-style layering as
  lambdo's Topology.translate (Topology.py:69-99) but at *table*
  granularity: intra-table ordering is the listed column order, and
  everything inside a stage is delegated to Catalyst.
- filters: the reference forces filter-last (Topology.py:83-85); we
  apply them last in the logical plan and let Catalyst push them down
  (identical semantics — predicates are plain boolean columns).

The spec format is documented in docs/workflow_spec.md.
"""

from __future__ import annotations

import copy
import inspect
import json
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from lambdo_spark.operators import column_ops as C
from lambdo_spark.operators import table_ops as T


def resolve_callable(ref: str):
    """Reference-style ``module.path:attr`` resolution
    (/root/reference/lambdo/resolve.py:14-49: import module, walk the
    attribute chain). Used for T3 map tables, where a workflow names a
    user batch-kernel (Iterator[pd.DataFrame] -> Iterator[pd.DataFrame])."""
    import importlib

    mod_name, _, attr_path = ref.partition(":")
    if not attr_path:
        raise ValueError(f"callable ref {ref!r} must be 'module:attr'")
    obj = importlib.import_module(mod_name)
    for part in attr_path.split("."):
        obj = getattr(obj, part)
    if not callable(obj):
        raise ValueError(f"{ref!r} resolved to non-callable {obj!r}")
    return obj


def import_modules(imports: list[str], spark: SparkSession | None = None) -> list:
    """Workflow-level ``imports`` (reference Workflow.py:40-41 /
    resolve.py:98-130): each entry is a module name, a dotted path
    mapping to a source file, or an explicit ``*.py`` path; loaded
    modules are registered in ``sys.modules`` so ``module:attr``
    kernel refs resolve against them.

    File-based imports are also shipped to EXECUTORS via
    ``addPyFile`` (the ``spark-submit --py-files`` equivalent) —
    cloudpickle serializes module-level functions by reference, so a
    pandas-UDF kernel from a user file would otherwise throw
    ModuleNotFoundError the moment a worker deserializes it."""
    import importlib
    import importlib.util
    import os as _os
    import sys

    def _by_value(mod):
        # ship kernels from workflow-imported modules BY VALUE inside
        # the task pickle: executors then never need the module on
        # their own import path (addPyFile stays as belt-and-braces
        # for file imports, but name imports from arbitrary sys.path
        # locations — e.g. the reference's examples.example3 — would
        # otherwise ModuleNotFoundError in the python worker)
        try:
            from pyspark import cloudpickle

            cloudpickle.register_pickle_by_value(mod)
        except Exception:
            pass
        return mod

    mods = []
    for name in imports or []:
        if not name.endswith(".py"):
            try:
                mods.append(_by_value(importlib.import_module(name)))
                continue
            except ImportError:
                pass
        path = name if name.endswith(".py") else name.replace(".", "/") + ".py"
        base = _os.path.basename(path)[:-3]
        spec = importlib.util.spec_from_file_location(base, path)
        if spec is None or spec.loader is None:
            raise ImportError(f"workflow import {name!r}: no module and no file {path!r}")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules[base] = mod
        if spark is not None:
            spark.sparkContext.addPyFile(path)
        mods.append(_by_value(mod))
    return mods


_STRFTIME_TO_SPARK = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"),
    ("%j", "DDD"),
]


def strftime_to_spark(fmt: str) -> str:
    """Python strftime directives -> JVM DateTimeFormatter pattern
    (the subset the reference examples use)."""
    for py, jvm in _STRFTIME_TO_SPARK:
        fmt = fmt.replace(py, jvm)
    return fmt


# Reference workflows name stock pandas/builtins callables
# (examples/example2.json:16, tests/test_calculate.py:23-26). These
# have native JVM kernels here — rewrite in place so reference specs
# stay on the fast path instead of a driver-shipped pandas UDF.
_WELLKNOWN_FUNCTIONS = {
    "pandas:to_datetime": "to_timestamp",
    "pandas.core.tools.datetimes:to_datetime": "to_timestamp",
    "builtins:float": "float",
    "builtins:int": "int",
    "builtins:str": "str",
    "numpy:mean": "mean",
    "numpy.core.fromnumeric:mean": "mean",
    "numpy:sum": "sum",
    "numpy.core.fromnumeric:sum": "sum",
    "numpy:amin": "min",
    "numpy:amax": "max",
    "numpy.core.fromnumeric:amin": "min",
    "numpy.core.fromnumeric:amax": "max",
    "numpy:size": "size",
    "lambdo.std:mean_weighted": "mean_weighted",
}


def _rewrite_wellknown_function(c: dict) -> None:
    ref = c.get("kernel") or c.get("function")
    if ref in ("pandas.core.series:Series.shift", "pandas:Series.shift"):
        # whole-column shift (reference tests/test_calculate.py:54-89)
        # is a dedicated operation here, not a kernel
        c["operation"] = "shift"
        c["periods"] = int((c.get("model") or {}).get("periods", 1))
        c.pop("function", None)
        return
    name = _WELLKNOWN_FUNCTIONS.get(ref)
    if name is None:
        return
    if name == "to_timestamp":
        m = c.get("model") or {}
        # errors='coerce' maps to try_to_timestamp (NULL on parse
        # failure); the default (errors='raise') maps to ANSI
        # to_timestamp, which raises — both pandas-exact. Any other
        # model arg would be SILENTLY dropped by this rewrite, so
        # refuse it loudly.
        extra = set(m) - {"format"} - (
            {"errors"} if m.get("errors") == "coerce" else set()
        )
        if extra:
            raise ValueError(
                f"column {c.get('id')!r}: pandas:to_datetime model args "
                f"{sorted(extra)} are not supported by the Spark "
                "to_timestamp rewrite (supported: format, "
                "errors='coerce' — unparseable values become NULL)"
            )
        c["kernel"] = name
        c.pop("function", None)
        model = {}
        if "format" in m:
            model["fmt"] = strftime_to_spark(m["format"])
        if m.get("errors") == "coerce":
            model["coerce"] = True
        c["model"] = model or None
        return
    c["kernel"] = name
    c.pop("function", None)


def strip_comments(text: str) -> str:
    """`//` line comments, as the reference CLI accepts
    (/root/reference/lambdo/main.py:23)."""
    return re.sub(r"^\s*//.*$", "", text, flags=re.MULTILINE)


def expand_extensions(col_def: dict) -> list[dict]:
    """C8 — column families (reference utils.py:13-36): base ⊗ each
    override; auto ids ``base_i`` when the override has none."""
    exts = col_def.get("extensions")
    if not exts:
        return [col_def]
    base = {k: v for k, v in col_def.items() if k != "extensions"}
    out = []
    for i, ext in enumerate(exts):
        d = copy.deepcopy(base)
        d.update(ext)
        if "id" not in ext:
            d["id"] = f"{base.get('id', 'col')}_{i}"
        out.append(d)
    return out


# ------------------------------------------------------------ op table
# The machinery behind ``_OPS``, the table itself (end of this module).


def _one(cols):
    if len(cols) != 1:
        raise ValueError(f"the stream twin takes one key column, got {cols!r}")
    return cols[0]


_COERCE = {
    "int": int, "float": float, "bool": bool, "str": str, "tuple": tuple,
    "first": lambda cols: cols[0],
    "one": _one,
    "or_empty": lambda v: v or [],  # an unset partition_by as no keys
    "quotas": lambda q: {stratum: int(n) for stratum, n in q.items()},
}

# accepted on every table: the common table keys, plus the reference's
# T3 function-table keys (SURVEY.md §2.1)
_COMMON_KEYS = frozenset({
    "id", "operation", "columns", "order_by", "partition_by", "row_filter",
    "column_filter", "after", "function", "inputs", "model", "outputs",
    "attributes",
})

# accepted on every column, the reference's outputs/data_type included
_COLUMN_KEYS = frozenset({
    "id", "operation", "kernel", "function", "returns", "inputs", "model",
    "exclude", "fillna_value", "extensions", "order_by", "partition_by", "window",
    "outputs", "data_type",
})
_ROW_ORDER = "__row_order__"  # reference_compat's physical row order


def _parse_keys(spec: str) -> tuple[tuple[str, str, str | None], ...]:
    """``"key[=param][:coerce] ..."`` → ``((key, param, coerce), ...)``."""
    out = []
    for tok in spec.split():
        tok, _, conv = tok.partition(":")
        key, _, param = tok.partition("=")
        out.append((key, param or key, conv or None))
    return tuple(out)


def _where(d: dict) -> str:
    if "_table" in d:  # a column def, as the Workflow normalized it
        return f"table {d['_table']!r} column {d.get('id')!r} ({d['operation']})"
    return f"table {d['id']!r} ({d.get('operation', 'source')})"


class _Op:
    """One table operation.

    - ``fn``: the callable, a ``module:attr`` ref under ``lambdo_spark``
      resolved when the table builds (importing the compiler loads no op
      module), or a function ``fn(wf, tdef, *frames, **values)`` for an op
      with logic of its own.
    - ``keys``: the JSON keys it takes, as ``key[=param][:coerce]``;
      ``param`` defaults to the key, ``coerce`` names a ``_COERCE`` entry.
      When two keys name one parameter, the first one set wins.
    - ``tables``: the keys naming input tables, same syntax. ``source``
      is passed first and positionally, ``=a,b`` unpacks a two-table
      list, and a dotted key (``realtime.raw``) only orders the build.
    - ``preset``: arguments passed unless a key sets them.
    - ``stream``: the twin built when the source table is a stream; its
      ``fixed`` maps a batch key it has no parameter for to the one value
      it computes with — any other value is refused.
    """

    common = _COMMON_KEYS

    def __init__(
        self, fn, keys="", tables="source", preset=None, stream=None, fixed=None
    ):
        self.fn = fn
        self.keys = _parse_keys(keys)
        self.tables = _parse_keys(tables)
        self.preset = preset or {}
        self.stream = stream
        self.fixed = fixed or {}
        self.accepted = self.common.union(
            (k.partition(".")[0] for k, _, _ in self.keys + self.tables),
            stream.accepted if stream else (),
        )

    def build(self, wf, tdef: dict, *args) -> DataFrame:
        args, kw = list(args), {}
        for key, param, _ in self.tables:
            if "." in key or key not in tdef:
                if key == "source":
                    raise ValueError(f"{_where(tdef)} needs 'source'")
                continue
            names = tdef[key]
            frames = (
                wf.tables[names] if isinstance(names, str)
                else [wf.tables[n] for n in names]
            )
            if key == "source":
                args.append(frames)
            elif "," in param:
                kw.update(zip(param.split(","), frames, strict=True))
            else:
                kw[param] = frames
        if self.stream is not None and args[0].isStreaming:
            self._check_twin(tdef)
            return self.stream.call(wf, tdef, *args, **kw)
        return self.call(wf, tdef, *args, **kw)

    def call(self, wf, tdef: dict, *args, **kw) -> DataFrame:
        """Call with ``kw`` plus the values of this op's keys set in
        ``tdef`` and the presets no key set."""
        for key, param, conv in self.keys:
            if key in tdef and param not in kw:
                kw[param] = self._value(tdef, key, conv)
        for param, v in self.preset.items():
            kw.setdefault(param, v)
        fn = self._callable()
        if fn is self.fn:
            args = (wf, tdef, *args)
        self._require(fn, tdef, len(args), kw)
        return fn(*args, **kw)

    def _require(self, fn, tdef: dict, nargs: int, given) -> None:
        """Refuses a parameter without a default past ``nargs``, not given."""
        for i, p in enumerate(inspect.signature(fn).parameters.values()):
            if (
                p.default is p.empty and i >= nargs and p.name not in given
                and p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)
            ):
                raise ValueError(f"{_where(tdef)} needs {self._key_of(p.name)!r}")

    def _callable(self):
        if callable(self.fn):
            return self.fn
        return resolve_callable("lambdo_spark." + self.fn)

    def _value(self, tdef: dict, key: str, conv: str | None):
        v = tdef[key]
        if conv is None:
            return v
        try:
            return _COERCE[conv](v)
        except (TypeError, ValueError) as e:
            raise ValueError(f"{_where(tdef)}: {key!r} = {v!r}: {e}") from None

    def _key_of(self, param: str) -> str:
        return next(
            (k for k, p, _ in self.keys + self.tables if param in p.split(",")),
            param,
        )

    def _check_twin(self, tdef: dict) -> None:
        """The same spec must mean the same on a stream: a key the twin
        has no parameter for may only hold the value the twin computes
        with, and the batch op's required keys stay required (a key the
        twin reads into the same parameter stands in, e.g. ``ts`` for
        ``order``)."""
        twin = {k: p for k, p, _ in self.stream.keys}
        fixed = self.stream.fixed
        batch = inspect.signature(self._callable()).parameters
        for key, param, conv in self.keys:
            if key not in twin:
                if key in tdef and (
                    key not in fixed or self._value(tdef, key, conv) != fixed[key]
                ):
                    twin_does = (
                        f"computes with {fixed[key]!r}" if key in fixed
                        else "has no such parameter"
                    )
                    raise ValueError(
                        f"{_where(tdef)}: {key!r} = {tdef[key]!r} is not supported "
                        f"on a streaming source; its twin {twin_does}"
                    )
            elif (
                key not in tdef and param in batch
                and batch[param].default is inspect.Parameter.empty
                and not any(k in tdef for k, p in twin.items() if p == twin[key])
            ):
                raise ValueError(f"{_where(tdef)} needs {key!r}")


def _on(v) -> bool:
    return v is not None and v is not False


class _Chain(_Op):
    """The shape the mergeable time-series aggregates share: partials,
    merged to the coarser ``merge_to`` tier when it is set, then a last
    step run when ``final_if`` (a key and its default) is on."""

    def __init__(self, partials, merge, final, final_if=("finalize", True)):
        super().__init__(self._build)
        self.steps = (partials, merge, final, final_if)
        self.accepted = self.accepted.union(
            {"merge_to", final_if[0]},
            *(s.accepted for s in (partials, merge, final)),
        )

    def _build(self, wf, tdef: dict, src: DataFrame) -> DataFrame:
        partials, merge, final, (key, default) = self.steps
        df = partials.call(wf, tdef, src)
        if _on(tdef.get("merge_to")):
            df = merge.call(wf, tdef, df)
        else:  # an off ``merge_to`` (null, false) names no width
            tdef = {k: v for k, v in tdef.items() if k != "merge_to"}
        if _on(tdef.get(key, default)):
            df = final.call(wf, tdef, df)
        return df


class _Col(_Op):
    """One column operation: ``fn(df, ...)`` returns ``df`` with the
    column attached (an op function takes ``(wf, cdef, df, ...)``);
    ``kernel``/``function`` reach a ``kernel`` parameter as
    ``Workflow._kernel_ref`` resolves them, and an ``order_by``
    parameter without a default means the op needs a row order."""

    common = _COLUMN_KEYS

    def __init__(self, fn, keys="", tables="", preset=None):
        super().__init__(fn, keys, tables, preset)
        self.takes = {param for _, param, _ in self.keys}

    def compile(self, cdef: dict, row_order: bool) -> None:
        """Refuses a normalized column def that misses a required key,
        before any table builds; a missing row order is the physical one
        when ``row_order`` (reference_compat) allows it."""
        fn = self._callable()
        p = inspect.signature(fn).parameters.get("order_by")
        if p is not None and p.default is p.empty and not cdef["order_by"]:
            if not row_order:
                raise ValueError(f"{_where(cdef)} needs 'order_by'")
            cdef["order_by"] = [_ROW_ORDER]
        given = {p for k, p, _ in self.keys + self.tables if k in cdef}
        self._require(fn, cdef, 3 if fn is self.fn else 1, given | set(self.preset))

    def build(self, wf, cdef: dict, df: DataFrame) -> DataFrame:
        if cdef["order_by"] == [_ROW_ORDER] and _ROW_ORDER not in df.columns:
            df = df.withColumn(_ROW_ORDER, F.monotonically_increasing_id())
        df = super().build(wf, cdef, df)
        # C9 — fillna applied post-attach (reference Column.py:437-496),
        # unless the op takes it itself
        fv = cdef.get("fillna_value")
        if fv is not None and "fillna_value" not in self.takes:
            cid = cdef["id"]
            df = df.withColumn(cid, F.coalesce(F.col(cid), F.lit(fv)))
        return df

    def call(self, wf, cdef: dict, df: DataFrame, **kw) -> DataFrame:
        if "kernel" in self.takes:
            kw["kernel"] = wf._kernel_ref(cdef)
        return super().call(wf, cdef, df, **kw)


def _table_deps(tdef: dict) -> set[str]:
    deps: set[str] = set()
    cols = [c for cdef in tdef.get("columns", []) for c in expand_extensions(cdef)]
    for d, op in [(tdef, _OPS.get(tdef.get("operation", "source")))] + [
        (c, _COLUMN_OPS.get(c.get("operation"))) for c in cols
    ]:
        for key, _, _ in op.tables if op else ():
            head, _, sub = key.partition(".")
            names = d.get(head)
            if sub:
                names = names.get(sub) if isinstance(names, dict) else None
            if names is not None:
                deps.update([names] if isinstance(names, str) else names)
    # explicit ordering for side-effect chains the data flow can't
    # express (a tier `source` reading a tier `sink`'s root goes
    # through the filesystem, not through a table reference)
    after = tdef.get("after", [])
    deps.update([after] if isinstance(after, str) else after)
    deps.discard(tdef["id"])
    return deps


def stratify(spec: dict) -> list[list[str]]:
    """Kahn-style layer stratification (reference Topology.py:69-99).
    Returns table ids in dependency layers; raises on cycles instead
    of the reference's silent drop (Topology.py:95-96)."""
    tdefs = {t["id"]: t for t in spec["tables"]}
    remaining = dict(tdefs)
    done: set[str] = set()
    layers: list[list[str]] = []
    while remaining:
        # a dep is satisfied when already built, or not defined in the
        # workflow at all (pre-bound data injected programmatically)
        layer = [
            tid
            for tid, td in remaining.items()
            if all(d in done or d not in tdefs for d in _table_deps(td))
        ]
        if not layer:
            raise ValueError(
                f"dependency cycle or unresolved tables: {sorted(remaining)}"
            )
        layers.append(sorted(layer))
        for tid in layer:
            done.add(tid)
            remaining.pop(tid)
    return layers


def _lookup(ops: dict, d: dict, keys, kind: str = "table") -> _Op:
    """``d``'s entry in ``ops``; refuses an unknown op, or a key of
    ``keys`` (the def as written) that the entry does not accept."""
    name = d.get("operation", "source")
    op = ops.get(name)
    if op is None:
        raise ValueError(f"{_where(d)}: unknown {kind} operation '{name}'")
    unknown = set(keys) - op.accepted
    if unknown:
        raise ValueError(
            f"{_where(d)}: unknown key(s) {sorted(unknown)}; "
            f"{name!r} accepts {sorted(op.accepted)}"
        )
    return op


def _normalize_column(c: dict) -> dict:
    """A column def in the op table's terms: a bare-string ``inputs`` as
    a list (reference Column.py:442), well-known function refs rewritten
    and the operation inferred (Column.py:74-104)."""
    c = dict(c)
    if isinstance(c.get("inputs"), str):
        c["inputs"] = [c["inputs"]]
    _rewrite_wellknown_function(c)
    if c.get("operation") is None and (c.get("function") or c.get("kernel")):
        w = str(c.get("window", "one"))
        if w in ("one", "1"):
            c["operation"] = "calculate"
        elif w == "all":
            # reference specs use window=all for elementwise whole-column
            # fns (example5.json's to_datetime); a scalar-only registry
            # kernel IS elementwise
            from lambdo_spark.functions.registry import kernels

            k = kernels().get(c["kernel"]) if isinstance(c.get("kernel"), str) else None
            scalar = k is not None and k.expr is not None and k.agg is None
            c["operation"] = "calculate" if scalar else "all"
        else:
            c["operation"] = "roll"
    return c


class Workflow:
    """Compiled workflow: dict of table id → DataFrame, built lazily
    in dependency order. Mirrors the reference's programmatic entry
    (SURVEY.md §3 entry point 2): bind input frames, execute, read
    results — except 'execute' just *builds plans*; Spark actions
    happen when the caller collects/writes."""

    def __init__(
        self,
        spec: dict | str,
        spark: SparkSession,
        data: dict[str, DataFrame] | None = None,
        allow_lambda: bool = False,
        reference_compat: bool = False,
    ):
        if isinstance(spec, str):
            spec = json.loads(strip_comments(spec))
        self.spec = spec
        self.spark = spark
        self.allow_lambda = allow_lambda
        # reference_compat reproduces two reference behaviors its
        # workflows rely on that are deliberately NOT default here:
        # (1) order-sensitive column ops without order_by use implicit
        #     physical row order (README.md:109-121) via a hidden
        #     __row_order__ = monotonically_increasing_id() column —
        #     sound only for small single-split sources, which is the
        #     reference's scale; explicit order_by is the 100 TB path.
        # (2) user callables in calculate run row-at-a-time inside
        #     each Arrow batch (Column.py:552-559's Series/row apply),
        #     instead of this engine's vectorized Series convention.
        self.reference_compat = reference_compat
        self.tables: dict[str, DataFrame] = dict(data or {})
        self.streams: dict[str, Any] = {}  # stream_sink id → StreamingQuery
        import_modules(spec.get("imports", []), spark)
        self._order = [t["id"] for t in spec["tables"]]
        self._tdefs = {t["id"]: t for t in spec["tables"]}
        self._normalize_operations()
        self._ops = {tid: _lookup(_OPS, td, td) for tid, td in self._tdefs.items()}
        self._columns = {tid: self._compile_columns(t) for tid, t in self._tdefs.items()}
        self.layers = stratify(self.spec)

    def _normalize_operations(self) -> None:
        """Reference default-operation rules (Table.py:162-190): no
        ``operation`` means noop for the FIRST table and extend-of-the-
        previous-table for later ones; ``noop`` is a data-bound table.
        Normalizing up front keeps stratify()'s dependency extraction
        exact for reference-style specs."""
        for i, tid in enumerate(self._order):
            td = self._tdefs[tid]
            op = td.get("operation")
            if op == "noop":
                td["operation"] = "data"
            elif op is None and td.get("function"):
                self._normalize_function_table(td)
            elif op is None and "path" not in td:
                if i == 0 or tid in self.tables:
                    td["operation"] = "data"
                else:
                    td["operation"] = "extend"
                    td.setdefault("source", self._order[i - 1])
            elif op == "extend" and "source" not in td:
                if i == 0:
                    raise ValueError(
                        f"table {tid!r}: operation 'extend' with no "
                        "'source' cannot be the first table — there is "
                        "no predecessor to extend"
                    )
                td["source"] = self._order[i - 1]

    def _compile_columns(self, td: dict) -> list[tuple[dict, _Col]]:
        """The column defs, normalized over the table's ``order_by`` and
        ``partition_by``, with their ``_COLUMN_OPS`` entries; refuses an
        unknown op or key, or a missing required key."""
        out = []
        for cdef in td.get("columns", []):
            for c in map(_normalize_column, expand_extensions(cdef)):
                d = {"order_by": td.get("order_by"),
                     "partition_by": td.get("partition_by"), **c,
                     "operation": c.get("operation") or "noop", "_table": td["id"]}
                op = _lookup(_COLUMN_OPS, d, c, "column")
                op.compile(d, self.reference_compat)
                out.append((d, op))
        return out

    def _normalize_function_table(self, td: dict) -> None:
        """Reference T3 function tables (Table.py:192-203: a table def
        whose ``function`` populates it) rewritten to this engine's
        explicit operations, so reference workflow JSONs — e.g.
        examples/example1.json's pandas:read_csv source and
        pandas:DataFrame.to_csv sink — compile without edits:

        - ``pandas:read_csv``  -> distributed csv ``source`` (model
          filepath_or_buffer -> path; nrows -> limit)
        - ``pandas:DataFrame.to_csv`` -> csv ``sink`` on inputs[0]
          (path_or_buf -> path; written as a single part file so a
          downstream pandas reader sees one csv)
        - 0 inputs -> ``function_source`` (driver-side callable
          returning a pandas frame, reference Table.py:499)
        - 1 input  -> ``map`` (mapInPandas; needs ``schema``)
        """
        fn = td["function"]
        model = td.get("model") or {}
        inputs = td.get("inputs") or []
        if fn == "pandas:read_csv":
            td["operation"] = "source"
            td["format"] = "csv"
            td["path"] = model["filepath_or_buffer"]
            if "nrows" in model:
                td["limit"] = int(model["nrows"])
            # pandas treats "null"/"NULL"/... as NaN (its default NA
            # token list); Spark csv's default nullValue is only "".
            # Without this, one literal "null" cell makes inferSchema
            # demote the whole column to string (^GSPC.csv 2016-06-29).
            td["options"] = {"nullValue": "null", **(td.get("options") or {})}
        elif fn in ("pandas:DataFrame.to_csv", "pandas:to_csv"):
            td["operation"] = "sink"
            td["format"] = "csv"
            td["path"] = model["path_or_buf"]
            td["source"] = inputs[0]
            td["single_file"] = True
        elif fn == "lambdo.std:join":
            # reference std.py:15-57 — left-join onto the first table;
            # model.keys = [left_on, right_on_i...] (absent → join by
            # row number), model.suffixes = [main, *rights]
            td["operation"] = "join"
            n_right = len(inputs) - 1
            ks = model.get("keys") or []
            if ks:
                left_on, keys = ks[0], []
                for i in range(n_right):
                    r = ks[i + 1] if i + 1 < len(ks) else None
                    if r is None:
                        keys.append(None)
                    elif r == left_on:
                        keys.append([r] if isinstance(r, str) else list(r))
                    else:
                        # pd.merge(left_on=, right_on=) with DIFFERENT
                        # names then drop of the right key (std.py:53)
                        keys.append(
                            {
                                "left": [left_on] if isinstance(left_on, str) else list(left_on),
                                "right": [r] if isinstance(r, str) else list(r),
                            }
                        )
                td["keys"] = keys
            sfx = model.get("suffixes") or []
            if sfx:
                td["left_suffix"] = sfx[0] or None
                td["suffixes"] = [
                    sfx[i + 1] if i + 1 < len(sfx) else f"_{i + 1}"
                    for i in range(n_right)
                ]
        elif fn == "lambdo.std:aggregate":
            # reference std.py:59-134 — group by model.keys, attach
            # model.aggregations (each {function, inputs, id/outputs})
            td["operation"] = "aggregate"
            td["source"] = inputs[0]
            ks = model["keys"]
            td["keys"] = [ks] if isinstance(ks, str) else list(ks)
            aggs = []
            for a in model.get("aggregations", []):
                a = dict(a)
                if "outputs" in a and "id" not in a:
                    a["id"] = a.pop("outputs")
                _rewrite_wellknown_function(a)
                if "kernel" not in a and a.get("function"):
                    raise ValueError(
                        f"lambdo.std:aggregate function {a['function']!r} "
                        "has no registry kernel; use operation "
                        "'aggregate' with a kernel name"
                    )
                aggs.append(a)
            td["aggregations"] = aggs
        elif not inputs:
            td["operation"] = "function_source"
        elif len(inputs) == 1:
            td["operation"] = "map"
            td["source"] = inputs[0]
        else:
            raise ValueError(
                f"table '{td.get('id')}': N-input function tables need an "
                "explicit operation (join/union/...)"
            )

    def execute(self) -> dict[str, DataFrame]:
        for layer in self.layers:
            for tid in layer:
                self.tables[tid] = self._build_table(self._tdefs[tid])
        return self.tables

    def await_streams(self, timeout: int | None = None) -> None:
        """Block until every ``stream_sink`` query terminates (for
        availableNow catch-up runs), then stop them. ``timeout`` is
        per-query, in seconds."""
        for q in self.streams.values():
            q.awaitTermination(timeout)
            q.stop()

    # --------------------------------------------------- kernel resolution
    def _eval_lambda(self, src: str):
        """Inline lambda strings (reference resolve.py:24-31,
        tests/test_table_populate.py:49-50) — eval of workflow-supplied
        code, so gated behind the explicit ``allow_lambda`` opt-in."""
        if not self.allow_lambda:
            raise ValueError(
                f"inline lambda kernels ({src!r}) require "
                "Workflow(..., allow_lambda=True) — refusing to eval "
                "workflow-supplied code by default"
            )
        return eval(src)  # noqa: S307 — explicit opt-in above

    def _kernel_ref(self, c: dict):
        """``kernel``/``function`` field → registry name (string,
        resolved by column_ops) or an ad-hoc user Kernel wrapping a
        ``module:attr`` callable / inline lambda (reference
        resolve.py:14-49). User callables receive the input columns as
        positional pd.Series (the reference's calling convention) and
        must be vectorized: return a Series (calculate) or a scalar
        (roll/all/aggregate) — except in a reference_compat calculate,
        which runs them row-at-a-time."""
        from lambdo_spark.functions.registry import user_kernel

        ref = c.get("kernel", c.get("function"))
        returns = c.get("returns", "double")
        if callable(ref):
            fn = ref
        elif ref.strip().startswith("lambda "):
            fn = self._eval_lambda(ref)
        elif ":" in ref:
            fn = resolve_callable(ref)
        else:
            return ref  # registry kernel name
        if self.reference_compat and c["operation"] == "calculate":
            # reference calculate convention (Column.py:552-559):
            # 1 input -> fn per value (Series.apply); N inputs -> fn
            # per row ndarray (DataFrame.apply axis=1). Exact but
            # row-at-a-time inside each Arrow batch — the slow path,
            # only for reference_compat workflows.
            import pandas as pd

            def _row_at_a_time(cols, _fn=fn, **kw):
                if len(cols) == 1:
                    return cols[0].apply(lambda v: _fn(v, **kw))
                frame = pd.concat(cols, axis=1)
                return frame.apply(lambda r: _fn(r.values, **kw), axis=1)

            return user_kernel(
                _row_at_a_time, name=str(c.get("id", "user")), returns=returns
            )
        return user_kernel(
            lambda cols, **kw: fn(*cols, **kw),
            name=str(c.get("id", "user")),
            returns=returns,
        )

    def _batch_callable(self, ref: str):
        """T3 map-table function: module:attr, or (opt-in) a lambda."""
        if ref.strip().startswith("lambda "):
            return self._eval_lambda(ref)
        return resolve_callable(ref)

    # ------------------------------------------------------------ build
    def _build_table(self, tdef: dict) -> DataFrame:
        df = self._ops[tdef["id"]].build(self, tdef)
        drop_after: list[str] = []
        for c, op in self._columns[tdef["id"]]:
            df = op.build(self, c, df)
            if c.get("exclude"):
                drop_after.append(c["id"])
        rf = tdef.get("row_filter")
        if rf:
            df = T.row_filter(
                df,
                dropna=rf.get("dropna", False),
                predicate=rf.get("predicate"),
                sample=rf.get("sample"),
                slice_spec=rf.get("slice"),
                order_by=rf.get("order_by", tdef.get("order_by")),
            )
        if drop_after:
            df = df.drop(*drop_after)
        if _ROW_ORDER in df.columns:  # reference_compat helper col
            df = df.drop(_ROW_ORDER)
        cf = tdef.get("column_filter")
        if cf is not None:
            if isinstance(cf, dict):
                df = T.column_filter(df, exclude=cf.get("exclude"))
            else:
                df = T.column_filter(df, keep=cf)
        return df


def compile_workflow(
    spec: dict | str, spark: SparkSession, data: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    """One-shot: build every table's DataFrame; returns id → DataFrame."""
    return Workflow(spec, spark, data).execute()


# ------------------------------------------------------------ op functions
# Ops with logic of their own: ``fn(wf, tdef, *frames, **values)``.


def _data(wf, tdef: dict) -> DataFrame:
    """T1 noop — a programmatically bound frame."""
    if tdef["id"] not in wf.tables:
        raise ValueError(f"table '{tdef['id']}' declared as data but not bound")
    return wf.tables[tdef["id"]]


def _source(wf, tdef: dict, **kw) -> DataFrame:
    """T1 scan: files, a stream (``stream: true``), or an Iceberg-layout
    table (``format: "tier"``)."""
    if kw.get("stream"):
        return _stream_source(wf.spark, kw)
    fmt = kw.get("format", "parquet")
    if fmt == "tier":
        return _tier_source(wf, kw)
    df = T.source(wf.spark, fmt, kw["path"], kw.get("options"))
    if kw.get("limit") is not None:  # pandas:read_csv nrows
        df = df.limit(int(kw["limit"]))
    return df


def _stream_source(spark: SparkSession, kw: dict) -> DataFrame:
    """``"stream": true`` → readStream over the same path, with the DDL
    ``schema`` or one inferred from the existing files; ``watermark``
    ``{"ts": col, "delay": "10 minutes"}`` arms event-time finality."""
    fmt = kw.get("format", "parquet")
    schema = kw.get("schema")
    if schema is None:
        # the batch reader recipe (options, csv header/inferSchema): a
        # bare read would take a csv header row for data
        schema = T.source(spark, fmt, kw["path"], kw.get("options")).schema
    reader = spark.readStream.schema(schema).format(fmt)
    for k, v in (kw.get("options") or {}).items():
        reader = reader.option(k, v)
    df = reader.load(kw["path"])
    wm = kw.get("watermark")
    if wm:
        # withWatermark requires TIMESTAMP; parquet files written
        # without a zone scan as TIMESTAMP_NTZ. The session zone is
        # pinned to UTC (session.py), so the cast is epoch-exact.
        if dict(df.dtypes).get(wm["ts"]) == "timestamp_ntz":
            df = df.withColumn(wm["ts"], F.col(wm["ts"]).cast("timestamp"))
        df = df.withWatermark(wm["ts"], wm["delay"])
    return df


def _tier_source(wf, kw: dict) -> DataFrame:
    """Snapshot-isolated Iceberg-layout read with manifest-stat pruning:
    ``tier`` (default "1h") of a retention-pipeline root, or with an
    empty ``tier`` a table root directly (e.g. a tier sink's)."""
    prune = kw.get("prune")
    if prune:
        prune = {c: tuple(v) if isinstance(v, list) else v for c, v in prune.items()}
    tier = kw.get("tier", "1h")
    if tier:
        rt = kw.get("realtime")
        if isinstance(rt, dict):
            # finalized tier ∪ a fresh rollup of the `raw` table's
            # un-materialized tail (rollup/realtime.py)
            from lambdo_spark.rollup.realtime import read_realtime_tier

            names = {
                "key": "url_col", "ts": "ts_col", "text": "text_col", "lang": "lang_col"
            }
            return read_realtime_tier(
                wf.spark, kw["path"], tier, wf.tables[rt["raw"]],
                gapfill=bool(kw.get("gapfill", False)),
                prune=prune,
                cascade=bool(rt.get("cascade", False)),
                **{p: rt[k] for k, p in names.items() if k in rt},
            )
        from lambdo_spark.rollup.incremental import read_finalized_tier

        return read_finalized_tier(
            wf.spark, kw["path"], tier,
            gapfill=bool(kw.get("gapfill", False)), prune=prune,
        )
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    # time travel (`snapshot` / `as_of`), `branch` refs, CDC `changes`
    tbl = IcebergLayoutTable(kw["path"], branch=kw.get("branch", "main"))
    if kw.get("changes") is not None:
        lo, hi = kw["changes"]
        return tbl.read_changes(wf.spark, int(lo), None if hi is None else int(hi))
    snapshot, as_of = kw.get("snapshot"), kw.get("as_of")
    return tbl.read_tier(
        wf.spark,
        snapshot_id=None if snapshot is None else int(snapshot),
        as_of=None if as_of is None else float(as_of),
        prune=prune,
    )


def _function_source(wf, tdef: dict) -> DataFrame:
    """Reference T3 with 0 inputs (Table.py:499): ``func(**model)``
    returns a pandas frame, converted to a DataFrame."""
    pdf = wf._batch_callable(tdef["function"])(**(tdef.get("model") or {}))
    return wf.spark.createDataFrame(pdf)


def _sql(wf, tdef: dict, inputs=(), *, query: str) -> DataFrame:
    """Spark-SQL escape hatch (SURVEY §3): inputs register as temp views
    named by their workflow ids."""
    for name, df in zip(tdef.get("inputs", []), inputs):
        df.createOrReplaceTempView(name)
    return wf.spark.sql(query)


def _map(wf, tdef: dict, src: DataFrame, *, function: str, schema) -> DataFrame:
    """T3 one-input function table (reference Table.py:461-506): a
    named vectorized batch kernel over mapInPandas."""
    return T.map_table(src, wf._batch_callable(function), schema)


def _dedup(wf, tdef: dict, src: DataFrame, **kw) -> DataFrame:
    # on a stream, first-seen within the watermark keeps state bounded
    kw.setdefault("within_watermark", src.isStreaming)
    return T.dedup_rows(src, **kw)


def _quality_filter(wf, tdef, src, text="text", rules=None, flag=None) -> DataFrame:
    """Gopher/C4 web-text rules (functions/text.py): keep rows passing
    the composite boolean, or flag them when ``flag: "<col>"`` is given
    (one JVM expression over the text column, pushdown-friendly)."""
    from lambdo_spark.functions.text import gopher_filter

    keep = gopher_filter(F.col(text), **(rules or {}))
    return src.withColumn(flag, keep) if flag else src.where(keep)


def _bm25(wf, tdef: dict, docs: DataFrame, **kw) -> DataFrame:
    """Scores every doc, or the top ``k`` (TakeOrdered) when ``k`` is set."""
    from lambdo_spark.functions import ir

    return (ir.bm25_topk if "k" in kw else ir.bm25_scores)(docs, **kw)


def _bpe(wf, tdef: dict, docs: DataFrame, **kw) -> DataFrame:
    """Encodes with fixed ``merges``, or with rules trained on the
    corpus first."""
    from lambdo_spark.functions.bpe import bpe_encode, train_bpe

    train = {k: kw.pop(k) for k in ("num_merges", "min_count") if k in kw}
    if "merges" in kw:
        kw["merges"] = [tuple(m) for m in kw["merges"]]
    else:
        if "text_col" in kw:
            train["text_col"] = kw["text_col"]
        kw["merges"] = train_bpe(docs, **train)
    return bpe_encode(docs, **kw)


def _lm_score(wf, tdef: dict, docs: DataFrame, ref=None, **kw) -> DataFrame:
    """Scores against the counts of the ``ref`` corpus, or of the
    corpus itself."""
    from lambdo_spark.functions.lm import lm_counts, lm_score

    if ref is not None:
        cols = {k: v for k, v in kw.items() if k in ("id_col", "text_col")}
        kw["counts"] = lm_counts(ref, **cols)
    return lm_score(docs, **kw)


def _noop(wf, cdef: dict, df: DataFrame) -> DataFrame:
    """C7 — a column def naming an existing column."""
    return df


def _calculate(wf, cdef: dict, df: DataFrame, output, kernel, inputs, model=None,
               train=None) -> DataFrame:
    """C1; fits or loads a ``train``/``$file:`` model first (C10)."""
    if train is not None or (isinstance(model, str) and model.startswith("$file:")):
        from lambdo_spark.functions.train import resolve_model

        model = resolve_model(model, df, train)
    return C.calculate(df, output, kernel, inputs, model)


def _sink(wf, tdef: dict, src: DataFrame, **kw) -> DataFrame:
    """Eager write that returns the source — reference parity for a
    function table doubling as a sink (pandas:DataFrame.to_csv,
    examples/example1.json:14-22)."""
    fmt = kw.get("format", "parquet")
    if fmt in ("tier", "merge"):
        from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable
    if fmt == "tier":
        # checkpointed Iceberg-layout write: a re-run skips committed
        # partitions; `part_col` must exist
        IcebergLayoutTable(kw["path"]).write_tier(
            src,
            part_col=kw.get("part_col", "part"),
            input_snapshot=kw.get("input_snapshot", f"workflow:{tdef['source']}"),
        )
    elif fmt == "merge":
        # keyed MERGE (upsert), the batch twin of stream_sink "upsert"
        IcebergLayoutTable(kw["path"], branch=kw.get("branch", "main")).merge_rows(
            src,
            keys=kw["keys"],
            mode=kw.get("mode", "merge-on-read"),
            idempotency_tag=kw.get("tag"),
        )
    else:
        out = src.coalesce(1) if kw.get("single_file") else src
        w = out.write.mode(kw.get("mode", "overwrite"))
        if fmt == "csv":
            w = w.option("header", True)
        w.format(fmt).save(kw["path"])
    return src


def _stream_sink(wf, tdef: dict, src: DataFrame, **kw) -> DataFrame:
    """``writeStream`` sink; the started query lands in
    ``Workflow.streams``."""
    tid = tdef["id"]
    if not src.isStreaming:
        raise ValueError(
            f"stream_sink '{tid}': source '{tdef['source']}' is a "
            "batch table — use operation 'sink', or mark the "
            "source table with \"stream\": true"
        )
    if kw.get("format") == "upsert":
        # exactly-once MERGE of each micro-batch by `keys`; merge-on-read
        # keeps the per-batch cost O(batch)
        from lambdo_spark.streaming.upsert_stream import streaming_upsert_writer

        writer = streaming_upsert_writer(
            src, kw["path"], list(kw["keys"]), kw["checkpoint"],
            mode=kw.get("mode", "merge-on-read"),
            tag_prefix=kw.get("tag_prefix", f"upsert:{tid}"),
            part_col=kw.get("part_col", "part"),
        )
    else:
        writer = (
            src.writeStream.format(kw.get("format", "parquet"))
            .option("path", kw["path"])
            .option("checkpointLocation", kw["checkpoint"])
            .outputMode(kw.get("output_mode", "append"))
        )
    if kw.get("interval"):
        writer = writer.trigger(processingTime=kw["interval"])
    else:
        writer = writer.trigger(availableNow=True)
    wf.streams[tid] = writer.start()
    return src


# ------------------------------------------------------------ the table
_TO = "operators.table_ops:"
_TS = "rollup.timeseries:"
_AN = "rollup.analytics:"
_SERIES = "value=value_col ts=ts_col tier_seconds=width_s:int keys=partition_by"
_MERGE = "merge_to=width_s:int keys=partition_by bucket_col"
_DOCS = "id_col text=text_col"
_TWIN = "keys=key_col:one value=value_col state_ttl_s"
_TWIN_TS = _TWIN + " ts=ts_col order=ts_col:first"

_OPS: dict[str, _Op] = {
    # T1 / T3: inputs and outputs
    "data": _Op(_data, tables=""),
    "source": _Op(_source, "format path options limit schema stream watermark tier "
                  "gapfill prune realtime snapshot as_of branch changes",
                  tables="realtime.raw"),
    "function_source": _Op(_function_source, tables=""),
    "map": _Op(_map, "function schema"),
    "sql": _Op(_sql, "query", tables="inputs"),
    "sink": _Op(_sink, "path format mode single_file part_col input_snapshot keys "
                "tag branch"),
    "stream_sink": _Op(_stream_sink, "path checkpoint format output_mode interval "
                       "keys mode tag_prefix part_col"),
    # T2 / T4-T7 and set operations
    "extend": _Op(_TO + "extend"),
    "project": _Op(_TO + "project", "inputs outputs"),
    "product": _Op(_TO + "product", tables="inputs=dfs"),
    "join": _Op(_TO + "join_tables", "keys suffixes left_suffix", tables="inputs=dfs",
                preset={"keys": []}),
    "aggregate": _Op(_TO + "aggregate_table", "keys aggregations"),
    "union": _Op(_TO + "union_tables", "distinct", tables="inputs=dfs"),
    "intersect": _Op(_TO + "intersect_tables", tables="inputs=a,b"),
    "except": _Op(_TO + "except_tables", tables="inputs=a,b"),
    "asof_join": _Op(_TO + "asof_join", "on=on_key left_ts right_ts values=value_cols "
                     "direction tolerance", tables="left right"),
    "grouping_sets": _Op(_TO + "aggregate_grouping_sets",
                         "keys aggregations mode gid_col"),
    "window_aggregate": _Op(_TO + "window_aggregate",
                            "ts duration keys aggregations bucket_col slide",
                            preset={"keys": []}),
    "dedup": _Op(_dedup, "keys within_watermark"),
    # time series; the mergeable aggregates chain partials → merge_to → finalize
    "sessions": _Op(_TS + "session_table",
                    "keys=key ts=ts_col gap_seconds:int tiebreak=order_tiebreak"),
    "order_stat": _Op(_TS + "order_stat",
                      "keys value=value_col q:float tiebreak output exact"),
    "m4": _Op(_TS + "m4_downsample", _SERIES + " bucket_col"),
    "lttb": _Op(_TS + "lttb_downsample", _SERIES + " bucket_col"),
    "time_weighted": _Chain(
        _Op(_TS + "time_weighted_partials", _SERIES + " bucket_col"),
        _Op(_TS + "time_weighted_downsample", "tier_seconds=fine_width_s:int "
            "merge_to=coarse_width_s:int keys=partition_by bucket_col"),
        _Op(_TS + "time_weighted_finalize",
            "merge_to=width_s:int tier_seconds=width_s:int bucket_col")),
    "counter": _Chain(_Op(_TS + "counter_partials", _SERIES + " bucket_col"),
                      _Op(_TS + "counter_downsample", _MERGE),
                      _Op(_TS + "counter_finalize", "output")),
    "value_hist": _Chain(
        _Op(_TS + "value_hist_partials", _SERIES + " bin_width:int bucket_col"),
        _Op(_TS + "value_hist_downsample", _MERGE),
        _Op(_TS + "quantile_from_hist", "q:float keys=partition_by bucket_col output"),
        final_if=("q", None)),
    "distinct": _Op(_TS + "distinct_per_bucket", "keys item=item_col output exact rsd"),
    "distinct_sketch": _Chain(
        _Op(_TS + "distinct_sketch_partials",
            "keys item=item_col ts=ts_col tier_seconds:int lgk:int"),
        _Op(_TS + "distinct_sketch_downsample", "keys merge_to=tier_seconds:int"),
        _Op(_TS + "distinct_sketch_finalize", "output")),
    "heavy_hitters": _Op(_TS + "heavy_hitters",
                         "keys item=item_col k:int salt_buckets:int"),
    # series analytics, with their stream twins
    "ewma": _Op(_AN + "ewma", "value=value_col order=order_cols keys alpha:float "
                "output adjust:bool",
                stream=_Op("streaming.smoothing:streaming_ewma",
                           "alpha:float " + _TWIN_TS,
                           fixed={"output": "ewma", "adjust": True})),
    "anomaly": _Op(_AN + "anomaly_seasonal", "value=value_col bucket=bucket_col keys "
                   "period_seconds=period_s:int lookback:int min_prior:int "
                   "threshold:float",
                   stream=_Op("streaming.detect:streaming_anomaly", "bucket=bucket_col "
                              "period_seconds=period_s:int lookback:int "
                              "min_prior:int threshold:float " + _TWIN)),
    "cusum": _Op(_AN + "cusum", "value=value_col order=order_cols keys target slack",
                 stream=_Op("streaming.detect:streaming_cusum",
                            "target:int slack:int " + _TWIN_TS)),
    "corr_pairs": _Op(_AN + "corr_pairs", "value=value_col series=series_col "
                      "bucket=bucket_col min_buckets:int max_series"),
    "holt_winters": _Op(_AN + "holt_winters", "value=value_col order=order_cols keys "
                        "season_length:int alpha:float beta:float gamma:float "
                        "steps:int mode"),
    "rolling_corr": _Op(_AN + "rolling_corr", "x=x_col y=y_col order=order_cols keys "
                        "window:int min_periods:int output"),
    # corpus preparation and retrieval
    "quality_filter": _Op(_quality_filter, "text rules flag"),
    "text_analysis": _Op("functions.text:analyze_documents", "text=text_col"),
    # a table op keeps the surviving rows with all their columns
    "dedup_exact": _Op("functions.dedup:dedup_exact", _DOCS,
                       preset={"keep_rows": True}),
    "keep_latest": _Op("functions.dedup:dedup_keep_latest",
                       "keys=key_cols ts=ts_col tiebreak=tiebreak_cols n:int",
                       preset={"tiebreak_cols": []}),
    "dedup_minhash": _Op("functions.dedup:dedup_minhash_lsh", _DOCS +
                         " threshold:float num_hashes:int bands:int bucket_cap:int "
                         "verify"),
    "dedup_clusters": _Op("functions.cluster:dedup_clusters",
                          _DOCS + " threshold:float score=score_col"),
    "sample_stratified": _Op("functions.sampling:sample_stratified",
                             "keys=group_cols quotas=n_per_group:quotas "
                             "n=n_per_group:int fraction:float unique_keys=key_cols "
                             "seed:str salt_buckets:int", preset={"n_per_group": None}),
    "remove_boilerplate": _Op("functions.text:remove_boilerplate_lines",
                              _DOCS + " group_by=group_cols:tuple min_docs:int sep"),
    "decontaminate": _Op("functions.contamination:decontaminate", _DOCS +
                         " bench_text=bench_text_col n:int min_hits:int "
                         "broadcast_bench:bool prefilter", tables="source bench"),
    "lm_score": _Op(_lm_score, _DOCS + " alpha:float", tables="source ref"),
    "shuffle": _Op("functions.sampling:shuffle_deterministic",
                   "unique_keys=key_cols seed:str out=out_col"),
    "components": _Op("functions.cluster:connected_components", "src dst max_iter:int"),
    "dedup_spans": _Op("functions.exact_substr:remove_duplicate_spans", _DOCS +
                       " span_tokens:int min_count:int key cache_grams:bool"),
    "audio_features": _Op("functions.multimodal:extract_audio_features",
                          "id_col binary=audio_col"),
    "video_features": _Op("functions.multimodal:extract_video_features",
                          "id_col binary=video_col"),
    "pack": _Op("functions.sampling:pack_sequences",
                "tokens=token_col budget:int order_by=order_cols"),
    "bm25": _Op(_bm25, "query=query_terms k:int " + _DOCS + " k1:float b:float"),
    "tfidf": _Op("functions.ir:tfidf_scores", "vocab " + _DOCS),
    "semdedup": _Op("functions.semdedup:semdedup",
                    "tau:float k:int iters:int id_col vector=vec_col"),
    "bpe": _Op(_bpe, "num_merges:int merges " + _DOCS + " min_count:int"),
}

# ------------------------------------------------------- the column table
_CO = "operators.column_ops:"
_KERNEL = "id=output kernel function=kernel inputs model"

_COLUMN_OPS: dict[str, _Col] = {
    "noop": _Col(_noop),
    # C1-C3: per row, rolling and whole-group
    "calculate": _Col(_calculate, _KERNEL + " train"),
    "roll": _Col(_CO + "roll", _KERNEL + " window:int order_by partition_by "
                 "min_periods"),
    "roll_range": _Col(_CO + "roll_range", _KERNEL + " range_seconds:int ts=ts_col "
                       "partition_by"),
    "shift": _Col(_CO + "shift", "id=output inputs=input_col:first periods:int "
                  "order_by partition_by", preset={"periods": 1}),
    "all": _Col(_CO + "window_all", _KERNEL + " partition_by order_by"),
    # C4-C6: columns read from another table
    "link": _Col(_CO + "link", "id=output keys linked_keys", tables="linked_table"),
    "compose": _Col(_CO + "compose", "id=output link=link_col linked_keys "
                    "target=target_col", tables="linked_table"),
    "aggregate": _Col(_CO + "aggregate_column", "id=output keys=group_keys fact_keys "
                      "kernel function=kernel measure fillna_value model",
                      tables="fact_table=fact_df"),
    # time series
    "sessionize": _Col(_TS + "sessionize", "id=out_col partition_by=key:or_empty "
                       "ts=ts_col gap_seconds:int tiebreak=order_tiebreak"),
    "delta": _Col(_TS + "delta", "id=output inputs=value_col:first order_by "
                  "partition_by:or_empty"),
    "rate": _Col(_TS + "rate", "id=output inputs=value_col:first ts=ts_col order_by "
                 "partition_by:or_empty counter_reset scale:int"),
    "locf": _Col(_TS + "locf", "inputs=cols order_by partition_by:or_empty"),
    "interpolate": _Col(_TS + "interpolate_linear", "id=output inputs=value_col:first "
                        "bucket=bucket_col partition_by:or_empty ndigits:int"),
}
