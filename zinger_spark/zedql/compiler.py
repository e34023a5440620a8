"""Compile the Zed AST to Spark DataFrame plans.

Execution model: one Zed "value stream" = one DataFrame whose top-level
columns are the record fields, plus the ``_type`` meta column carrying
named-type tags ('data' | 'done' | ...; see datamodel.py — Spark rows in
one DataFrame share a schema, so named types ride a tag column instead
of per-value types).  Every operator is a declarative DataFrame
transformation, so Catalyst sees the whole program: filters in `from`
legs push into the scan, `switch`/`fork` branches are filters off one
parent plan, joins are equi-joins on compiled key expressions.

Scale note: an N-branch switch/fork union is N filtered instances of
the parent plan — Spark reuses exchanges, not scans, so a cold parent
is read up to N times.  The hot path already avoids this: EtlPipeline
materialises the incremental input window before fanning out into
rules (planner.py `build`), and that window is the only thing a
production switch sees.  For standalone `compile_query`
programs whose fan-out input is expensive, persist the input `df`
yourself before compiling, or accept the reference's own behavior —
it re-scans the entire pool per output topic by design
(etl/build.go:9-18 "brute force approach").

Zed semantics follow the reference's usage (citations inline):
  - `from (pool A => f  pool B => g) | anti join on l=r` — the two legs
    feed the join (etl/build.go:113-118).
  - `switch` routes each row to the FIRST matching case
    (etl/build.go:92-99 emits cases in rule order).
  - `fork` branch outputs are unioned via `fuse` widening
    (datamodel.fuse; README.md:486).
  - pool legs are offset-ordered (pool key kafka.offset asc,
    fifo/lake.go:36-39), which is what makes a bare `tail` legal.
"""

from __future__ import annotations

import contextvars
import re
from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from zinger_spark import datamodel
from zinger_spark.zedql import ast
from zinger_spark.zedql.parser import _PRIMS, parse


class ZedCompileError(ValueError):
    pass


META_COLS = ("_type",)

# Declared named types (`type done = {...}`) visible to nested
# cast(expr, name) expressions during a compile.  Compilation is
# driver-side and single-threaded per query; a ContextVar keeps the
# expression-compiler signatures free of threading noise.
_DECLS: contextvars.ContextVar[dict[str, T.StructType]] = contextvars.ContextVar(
    "zedql_decls", default={}
)

# `const name = expr` bindings (demo/update.zed:1-8): substituted when a
# path head names a const that the input does NOT shadow with a column.
_CONSTS: contextvars.ContextVar[dict] = contextvars.ContextVar(
    "zedql_consts", default={}
)

#: DISTINCT schemas flattened IN THIS PROGRAM (a tuple of StructTypes)
#: — unflatten() derives its static key set from the single one; two
#: different flatten() schemas in one program (e.g. fork branches) make
#: unflatten ambiguous and error rather than silently rebuilding
#: against whichever compiled last.  Reset per compile entry point so
#: one program's schemas can't leak into the next.
_FLATTEN_SRC: contextvars.ContextVar = contextvars.ContextVar(
    "zedql_flatten_src", default=None
)


def looks_like_zed(text: str) -> bool:
    """Dialect sniff for YAML `zed:` rule blocks: Zed rule blocks assign
    with `:=` (demo/invoices.yaml), which is never valid Spark SQL."""
    return ":=" in text


# --------------------------------------------------------------------------
# Context


@dataclass
class Ctx:
    spark: SparkSession
    source: Callable[[str], DataFrame]  # pool/table name -> DataFrame
    decls: dict[str, T.StructType] = dc_field(default_factory=dict)
    # current sort order as compiled-key thunks, for `tail`
    order: list[ast.SortKey] | None = None


def _data_cols(df: DataFrame) -> list[str]:
    # `this` excludes the engine's meta column and the lateral scope's
    # internal parent-id/order columns (__over_pid/__over_ord) — they
    # are plumbing, not fields of the element record
    return [
        c
        for c in df.columns
        if c not in META_COLS and not c.startswith("__over_")
    ]


def _col_type(df: DataFrame | None, col: Column) -> T.DataType:
    if df is None:
        raise ZedCompileError("expression needs a bound input to resolve types")
    return df.select(col.alias("__t")).schema[0].dataType


# --------------------------------------------------------------------------
# Expressions


def compile_expr(e: ast.Expr, df: DataFrame) -> Column:
    if isinstance(e, ast.Lit):
        if e.value is None:
            return F.lit(None)
        return F.lit(e.value)
    if isinstance(e, ast.RegexLit):
        # a bare regex in search position is shorthand for
        # grep(/re/, this): match any string value in the record
        return _grep(e.pattern, ast.Path([]), df)
    if isinstance(e, ast.DurationLit):
        # outside every()/time-arithmetic: seconds-as-double
        return F.lit(e.seconds)
    if isinstance(e, ast.TimeLit):
        # RFC3339 literal -> timestamp (session tz is pinned UTC, so a
        # trailing Z and no-zone text mean the same instant; explicit
        # numeric offsets are rejected rather than silently misread)
        if "+" in e.iso or e.iso.count("-") > 2:
            raise ZedCompileError(
                f"time literal {e.iso!r}: use UTC (Z) — numeric offsets "
                "are not supported"
            )
        return F.to_timestamp(F.lit(e.iso.replace("T", " ").rstrip("Z")))
    if isinstance(e, ast.Path):
        return _path(e.parts, df)
    if isinstance(e, ast.Bin):
        return _bin(e, df)
    if isinstance(e, ast.Not):
        return ~compile_expr(e.expr, df)
    if isinstance(e, ast.Neg):
        return -compile_expr(e.expr, df)
    if isinstance(e, ast.Cond):
        return F.when(compile_expr(e.cond, df), compile_expr(e.then, df)).otherwise(
            compile_expr(e.other, df)
        )
    if isinstance(e, ast.RecordLit):
        return F.struct(
            *[compile_expr(v, df).alias(name) for name, v in e.fields]
        )
    if isinstance(e, ast.ArrayLit):
        return F.array(*[compile_expr(v, df) for v in e.items])
    if isinstance(e, ast.MapLit):
        parts: list[Column] = []
        for k, v in e.pairs:
            parts.append(compile_expr(k, df))
            parts.append(compile_expr(v, df))
        return F.create_map(*parts)
    if isinstance(e, ast.Index):
        return _index(e, df)
    if isinstance(e, ast.IsType):
        if df is None or "_type" in df.columns:
            return F.col("_type") == F.lit(e.name)
        return F.lit(False)
    if isinstance(e, ast.CastExpr):
        col, _named = compile_cast(e, df)
        return col
    if isinstance(e, ast.Call):
        return _call(e, df)
    if isinstance(e, ast.TypeName):
        raise ZedCompileError(f"<{e.name}> type literal outside is()/cast()")
    raise ZedCompileError(f"unsupported expression {type(e).__name__}")


def _has_string(dt: T.DataType) -> bool:
    if isinstance(dt, T.StringType):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_string(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_string(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_string(dt.valueType)
    return False


def _grep_type(col: Column, dt: T.DataType, pattern: str) -> Column | None:
    """Recursive regexp match over every string value reachable from
    ``col`` — Zed's grep-over-`this` semantics.  Null values don't
    match (coalesced to false so they can't poison the OR).  Returns
    None for subtrees with no string anywhere."""
    if isinstance(dt, T.StringType):
        return col.rlike(pattern)
    if isinstance(dt, T.StructType):
        terms = [
            _grep_type(col[f.name], f.dataType, pattern)
            for f in dt.fields
            if _has_string(f.dataType)
        ]
        if not terms:
            return None
        out = F.coalesce(terms[0], F.lit(False))
        for t in terms[1:]:
            out = out | F.coalesce(t, F.lit(False))
        return out
    if isinstance(dt, T.ArrayType) and _has_string(dt.elementType):
        return F.exists(
            col,
            lambda x: F.coalesce(
                _grep_type(x, dt.elementType, pattern), F.lit(False)
            ),
        )
    if isinstance(dt, T.MapType) and _has_string(dt.valueType):
        return F.exists(
            F.map_values(col),
            lambda x: F.coalesce(
                _grep_type(x, dt.valueType, pattern), F.lit(False)
            ),
        )
    return None


def _type_at(schema: T.StructType, parts: list[str]) -> T.DataType | None:
    dt: T.DataType = schema
    for p in parts:
        if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
            return None
        dt = dt[p].dataType
    return dt


def _grep(pattern: str, target: ast.Expr, df: DataFrame) -> Column:
    """grep(pattern, target): when the target is a record (or `this`),
    match any string value in it recursively; scalar string targets
    match directly; other expressions fall back to rlike on their
    string form."""
    if df is not None:
        # Java-dialect validation at COMPILE time — a bad pattern in a
        # search term should be a ZedCompileError, not a mid-job
        # executor PatternSyntaxException (same contract as regexp()).
        _java_regex_groups(df, pattern, "regex search")
    # unbound compiles (df=None) have no schema for the recursive
    # record walk — fall through to rlike on the target's string form,
    # the pre-schema-aware behavior
    if isinstance(target, ast.Path) and df is not None:
        dt = _type_at(df.schema, target.parts)
        if isinstance(dt, T.StructType):
            terms = [
                _grep_type(
                    _path(target.parts + [f.name], df), f.dataType, pattern
                )
                for f in dt.fields
                if _has_string(f.dataType) and f.name not in META_COLS
            ]
            if not terms:
                return F.lit(False)
            out = F.coalesce(terms[0], F.lit(False))
            for t in terms[1:]:
                out = out | F.coalesce(t, F.lit(False))
            return out
        if dt is not None and not isinstance(dt, T.StringType):
            got = _grep_type(_path(target.parts, df), dt, pattern)
            return F.coalesce(got, F.lit(False)) if got is not None else F.lit(False)
    return compile_expr(target, df).rlike(pattern)


def _path(parts: list[str], df: DataFrame | None) -> Column:
    if df is None:
        # unbound compile (predicate Columns applied to a df later)
        if not parts:
            raise ZedCompileError("`this` needs a bound input")
        col = F.col(f"`{parts[0]}`")
        for p in parts[1:]:
            col = col.getField(p)
        return col
    if not parts:  # `this`
        cols = _data_cols(df)
        return F.struct(*[df[f"`{c}`"].alias(c) for c in cols])
    if parts[0] not in df.columns:
        const = _CONSTS.get().get(parts[0])
        if const is not None:
            col = compile_expr(const, df)
            for p in parts[1:]:
                col = col.getField(p)
            return col
        # Zed yields error("missing") for absent fields; the relational
        # analog is null.
        return F.lit(None)
    col = df[f"`{parts[0]}`"]
    # schema-aware descent: Zed is schema-flexible, so a program may
    # reference a nested field no record of THIS input carries (e.g.
    # demo/invoices.yaml's delete rule reads value.before, absent from
    # every demo batch).  Zed yields error("missing"); the typed
    # relational analog is a null literal, resolved at compile time so
    # the plan still analyzes.
    dtype: T.DataType | None = df.schema[parts[0]].dataType
    for p in parts[1:]:
        if isinstance(dtype, T.StructType):
            match = next((f for f in dtype.fields if f.name == p), None)
            if match is None:
                return F.lit(None)
            dtype = match.dataType
        else:
            dtype = None  # map/array element access: let Spark resolve
        col = col.getField(p)
    return col


def _bin(e: ast.Bin, df: DataFrame) -> Column:
    if e.op == "in":
        left = compile_expr(e.left, df)
        if isinstance(e.right, ast.ArrayLit):
            return left.isin(*[compile_expr(i, df) for i in e.right.items])
        return F.array_contains(compile_expr(e.right, df), left)
    # timestamp ± duration: Zed's time arithmetic (ts + 1h).  The
    # duration side becomes a day-time interval so timestamp semantics
    # (incl. sub-second values) are preserved by Spark's own + / -.
    if e.op in ("+", "-") and isinstance(e.right, ast.DurationLit):
        iv = F.make_dt_interval(secs=F.lit(e.right.seconds))
        base = compile_expr(e.left, df)
        return base + iv if e.op == "+" else base - iv
    if e.op == "+" and isinstance(e.left, ast.DurationLit):
        return compile_expr(e.right, df) + F.make_dt_interval(
            secs=F.lit(e.left.seconds)
        )
    left = compile_expr(e.left, df)
    right = compile_expr(e.right, df)
    if e.op == "+":
        # Zed `+` concatenates strings (language spec: arithmetic
        # section); Spark `+` is numeric-only, so dispatch on the
        # ANALYZED types (a schema-only select, no job).  Unbound
        # compiles (df=None, the YAML where-clause path) have no schema
        # to probe — dispatch on literal AST types there, numeric `+`
        # otherwise, matching the pre-concat behavior.
        if df is not None:
            lt, rt = (
                df.select(left.alias("l"), right.alias("r")).schema[i].dataType
                for i in (0, 1)
            )
            if isinstance(lt, T.StringType) and isinstance(rt, T.StringType):
                return F.concat(left, right)
        elif (
            isinstance(e.left, ast.Lit)
            and isinstance(e.left.value, str)
            and isinstance(e.right, ast.Lit)
            and isinstance(e.right.value, str)
        ):
            return F.concat(left, right)
    ops: dict[str, Callable[[Column, Column], Column]] = {
        "==": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": lambda a, b: a / b,
        "%": lambda a, b: a % b,
        "and": lambda a, b: a & b,
        "or": lambda a, b: a | b,
    }
    if e.op not in ops:
        raise ZedCompileError(f"unsupported operator {e.op}")
    return ops[e.op](left, right)


def _index(e: ast.Index, df: DataFrame) -> Column:
    base = compile_expr(e.base, df)
    if isinstance(e.index, ast.Lit) and isinstance(e.index.value, str):
        return base.getField(e.index.value)
    idx = compile_expr(e.index, df)
    base_t = _col_type(df, base)
    if isinstance(base_t, T.ArrayType):
        # Zed arrays are 0-based (element_at is 1-based) and an
        # out-of-range index is an error value, not an exception — the
        # relational analog is null.
        return F.try_element_at(base, (idx + F.lit(1)).cast("int"))
    return F.try_element_at(base, idx)  # maps: by key


def compile_cast(e: ast.CastExpr, df: DataFrame) -> tuple[Column, str | None]:
    """Returns (column, named_type or None).  Named casts conform the
    value to the declared record type (zson named types; the pipeline's
    done markers are `cast(..., done)` — etl/build.go:90,175)."""
    # cast(null, typeof(x)) — typed null (demo/invoices.yaml delete rule)
    if (
        isinstance(e.expr, ast.Lit)
        and e.expr.value is None
        and isinstance(e.to, ast.Call)
        and e.to.name == "typeof"
    ):
        t = _col_type(df, compile_expr(e.to.args[0], df))
        return F.lit(None).cast(t), None
    target: T.DataType | None = None
    named: str | None = None
    if isinstance(e.to, ast.TypeName):
        name = e.to.name
        if name in _PRIMS:
            target = _PRIMS[name]
        else:
            named = name
    elif isinstance(e.to, ast.Path) and len(e.to.parts) == 1:
        name = e.to.parts[0]
        if name in _PRIMS:
            target = _PRIMS[name]
        else:
            named = name
    else:
        raise ZedCompileError("cast target must be a type name")
    col = compile_expr(e.expr, df)
    if target is not None:
        return col.cast(target), None
    decl = _DECLS.get().get(named)
    if decl is not None:
        col = datamodel._conform(col, _col_type(df, col), decl)
    return col, named


_FUNCS: dict[str, Callable[..., Column]] = {
    "to_upper": F.upper,
    "upper": F.upper,
    "to_lower": F.lower,
    "lower": F.lower,
    "trim": F.trim,
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "round": F.round,
    "sqrt": F.sqrt,
    "pow": F.pow,
    "log": F.log,
    "coalesce": F.coalesce,
    "now": F.current_timestamp,
    "lenient_concat": F.concat,
    "levenshtein": F.levenshtein,
}


# C strftime directives → Java DateTimeFormatter patterns (Zed func docs
# `strftime.md` follows the C conventions; Spark's date_format takes the
# Java dialect, so the translation happens once at compile time).
_STRFTIME_MAP = {
    "Y": "yyyy",
    "y": "yy",
    "m": "MM",
    "d": "dd",
    "e": "d",
    "H": "HH",
    "I": "hh",
    "M": "mm",
    "S": "ss",
    "j": "DDD",
    "b": "MMM",
    "B": "MMMM",
    "a": "EEE",
    "A": "EEEE",
    "p": "a",
    "z": "xx",
    "Z": "zz",
}


def _strftime_java(fmt: str) -> str:
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            d = fmt[i + 1]
            if d == "%":
                lit.append("%")
                i += 2
                continue
            java = _STRFTIME_MAP.get(d)
            if java is None:
                raise ZedCompileError(f"strftime: unsupported directive %{d}")
            flush()
            out.append(java)
            i += 2
        else:
            lit.append(ch)
            i += 1
    flush()
    return "".join(out)


def _pattern_literal(arg: ast.Expr, fn: str) -> str:
    if isinstance(arg, ast.RegexLit):
        return arg.pattern
    if isinstance(arg, ast.Lit) and isinstance(arg.value, str):
        return arg.value
    raise ZedCompileError(f"{fn} pattern must be a regex or string literal")


def _java_regex_groups(df: DataFrame, pattern: str, fn: str) -> int:
    """Validate ``pattern`` under the JAVA regex dialect and return its
    capture-group count.  The compiled expressions execute JVM-side
    (rlike / regexp_extract), and the dialects genuinely diverge:
    Python re accepts ``(?P<name>…)`` which Java rejects, and rejects
    ``\\p{L}``-style property classes which Java accepts — so counting
    groups with Python ``re`` (the pre-r8 behavior) could disagree
    with runtime semantics (r7 advice #3).  Compile through the
    session's JVM for exact parity; fall back to Python re only if no
    gateway is reachable."""
    try:
        pat_cls = df.sparkSession._jvm.java.util.regex.Pattern
    except Exception:  # noqa: BLE001 - gateway unavailable (unbound compile)
        try:
            return re.compile(pattern).groups
        except re.error as exc:
            raise ZedCompileError(f"{fn}: bad pattern: {exc}")
    try:
        return pat_cls.compile(pattern).matcher("").groupCount()
    except Exception as exc:  # noqa: BLE001
        # Pattern-syntax failures only: PySpark 4 converts the JVM's
        # PatternSyntaxException into pyspark.errors
        # IllegalArgumentException (its Java superclass, no
        # .java_exception attr); older gateways surface a raw
        # Py4JJavaError whose java_exception IS PatternSyntaxException.
        # Anything else (Py4JNetworkError, a dropped gateway, ...) is
        # an infrastructure failure on a possibly-VALID pattern and
        # must propagate, not be misreported as "bad pattern".
        from pyspark.errors import IllegalArgumentException  # noqa: PLC0415

        jexc = getattr(exc, "java_exception", None)
        is_syntax = isinstance(exc, IllegalArgumentException) or (
            jexc is not None
            and "PatternSyntaxException" in jexc.getClass().getName()
        )
        if not is_syntax:
            raise
        first = str(exc).splitlines()[0]
        raise ZedCompileError(f"{fn}: bad pattern (java regex): {first}")


def _call(e: ast.Call, df: DataFrame) -> Column:
    name = e.name
    args = e.args
    if name in ("shape", "fill", "crop", "order"):
        # Zed shaping functions (language docs, shaping section):
        # shape(v, <t>) / fill / crop / order — datamodel.py column-level
        # recursive struct rebuilds, no UDFs.  The type argument is a
        # <type> literal: a declared named type or a primitive.
        if len(args) != 2:
            raise ZedCompileError(f"{name}() takes (value, <type>)")
        tname = None
        if isinstance(args[1], ast.TypeName):
            tname = args[1].name
        elif isinstance(args[1], ast.Path) and len(args[1].parts) == 1:
            tname = args[1].parts[0]
        if tname is None:
            raise ZedCompileError(f"{name}() second argument must be a type")
        if tname in _PRIMS:
            dst: T.DataType = _PRIMS[tname]
        else:
            decl = _DECLS.get().get(tname)
            if decl is None:
                raise ZedCompileError(f"{name}(): unknown type {tname!r}")
            dst = decl
        col = compile_expr(args[0], df)
        src_t = _col_type(df, col)
        fn = {
            "shape": datamodel.shape_type,
            "fill": datamodel.fill_type,
            "crop": datamodel.crop_type,
            "order": datamodel.order_type,
        }[name]
        return fn(col, src_t, dst)
    if name in _PRIMS:  # primitive-cast call form: int64(x), string(x)...
        if len(args) != 1:
            raise ZedCompileError(f"{name}() takes one argument")
        return compile_expr(args[0], df).cast(_PRIMS[name])
    if name == "typeof":
        t = _col_type(df, compile_expr(args[0], df))
        return F.lit(t.simpleString())
    if name == "len":
        col = compile_expr(args[0], df)
        t = _col_type(df, col)
        if isinstance(t, (T.ArrayType, T.MapType)):
            return F.size(col)
        return F.length(col)
    if name == "join":
        if not (isinstance(args[1], ast.Lit) and isinstance(args[1].value, str)):
            raise ZedCompileError("join() delimiter must be a string literal")
        return F.array_join(compile_expr(args[0], df), args[1].value)
    if name == "split":
        s = compile_expr(args[0], df)
        if isinstance(args[1], ast.Lit) and isinstance(args[1].value, str):
            return F.split(s, re.escape(args[1].value))
        return F.split(s, compile_expr(args[1], df))
    if name == "replace":
        s = compile_expr(args[0], df)
        return F.replace(s, compile_expr(args[1], df), compile_expr(args[2], df))
    if name == "parse_uri":
        from ..functions import net as znet

        if len(args) != 1:
            raise ZedCompileError("parse_uri takes one argument")
        return znet.parse_uri(compile_expr(args[0], df))
    if name == "network_of":
        # Zed network functions (function library: network_of); the
        # two-arg prefix-length form.  Pure JVM bit arithmetic —
        # functions/net.py.
        from ..functions import net as znet

        if len(args) != 2:
            raise ZedCompileError("network_of takes (addr, prefix_len)")
        return znet.network_of(
            compile_expr(args[0], df), compile_expr(args[1], df)
        )
    if name == "cidr_match":
        from ..functions import net as znet

        if len(args) != 2:
            raise ZedCompileError("cidr_match takes (cidr, addr)")
        return znet.cidr_match(
            compile_expr(args[0], df), compile_expr(args[1], df)
        )
    if name == "grep":
        # grep(<regex>|<string>, expr?) — regexp search; target
        # defaults to `this` (every string value in the record)
        pat = args[0]
        if isinstance(pat, ast.RegexLit):
            pattern = pat.pattern
        elif isinstance(pat, ast.Lit) and isinstance(pat.value, str):
            pattern = pat.value
        else:
            raise ZedCompileError("grep pattern must be a regex or string literal")
        return _grep(pattern, args[1] if len(args) > 1 else ast.Path([]), df)
    if name == "every":
        # every(duration): truncate the ts field to duration-aligned
        # buckets (Zed's time-bucketing group key).  Whole seconds only
        # — sub-second buckets would need microsecond arithmetic that
        # unix_timestamp cannot express.
        if len(args) != 1 or not isinstance(args[0], ast.DurationLit):
            raise ZedCompileError("every() takes one duration literal")
        secs = args[0].seconds
        if secs < 1 or secs != int(secs):
            raise ZedCompileError("every() supports whole-second durations")
        step = int(secs)
        ts = _path(["ts"], df)
        return F.timestamp_seconds(
            (F.unix_timestamp(ts) / step).cast("long") * step
        )
    if name == "has":
        return compile_expr(args[0], df).isNotNull()
    if name == "missing":
        return compile_expr(args[0], df).isNull()
    if name == "nameof":
        if "_type" in df.columns:
            return F.col("_type")
        return F.lit(None).cast("string")
    if name == "nest_dotted":
        # nest_dotted(this): group dotted top-level names into nested
        # records ({"a.b": 1, "a.c": 2} -> {a: {b: 1, c: 2}}) — the
        # post-ingest fixup for CSV/JSON headers with dotted keys.
        # Static schema makes this a pure compile-time regrouping.
        if args and not (isinstance(args[0], ast.Path) and not args[0].parts):
            raise ZedCompileError("nest_dotted() operates on `this`")
        tree: dict = {}
        for c in _data_cols(df):
            parts = c.split(".")
            node = tree
            for p in parts[:-1]:
                nxt = node.setdefault(p, {})
                if not isinstance(nxt, dict):
                    raise ZedCompileError(
                        f"nest_dotted: {p!r} is both a field and a record"
                    )
                node = nxt
            if parts[-1] in node:
                raise ZedCompileError(
                    f"nest_dotted: {parts[-1]!r} is both a field and a record"
                )
            node[parts[-1]] = F.col(f"`{c}`")

        def build(node: dict) -> Column:
            return F.struct(
                *[
                    (build(v) if isinstance(v, dict) else v).alias(k)
                    for k, v in node.items()
                ]
            )

        return build(tree)
    if name == "kind":
        # kind(v): category of the value's type (Zed func docs kind.md).
        # Static in a fixed-schema engine — folds to a literal.
        t = _col_type(df, compile_expr(args[0], df))
        if isinstance(t, T.StructType):
            return F.lit("record")
        if isinstance(t, T.ArrayType):
            return F.lit("array")
        if isinstance(t, T.MapType):
            return F.lit("map")
        return F.lit("primitive")
    if name == "flatten":
        if len(args) != 1:
            raise ZedCompileError("flatten() takes one record argument")
        col = compile_expr(args[0], df)
        t = _col_type(df, col)
        if not isinstance(t, T.StructType):
            raise ZedCompileError(
                f"flatten() needs a record, got {t.simpleString()}"
            )
        seen = _FLATTEN_SRC.get() or ()
        if not any(t == s for s in seen):
            _FLATTEN_SRC.set(seen + (t,))  # unflatten() key set, below
        return datamodel.flatten_record(col, t)
    if name == "unflatten":
        # Zed unflatten() rebuilds a record from data-dependent keys.
        # A static Spark schema needs a static KEY SET, which is
        # available whenever the leaves came from a flatten() in the
        # same program (the idiomatic use: filter/rewrite the flattened
        # leaves, then unflatten — over flatten(this) => (...) |
        # unflatten(...)).  The rebuilt record has the flattened
        # record's shape with absent keys as null.  Fully dynamic keys
        # (no upstream flatten) remain a declared gate.
        if len(args) != 1:
            raise ZedCompileError("unflatten() takes one argument")
        if isinstance(args[0], ast.Call) and args[0].name == "flatten":
            # exact round trip: unflatten(flatten(r)) == r
            return compile_expr(args[0].args[0], df)
        entries = compile_expr(args[0], df)
        et = _col_type(df, entries)
        if not (
            isinstance(et, T.ArrayType)
            and isinstance(et.elementType, T.StructType)
            and [f.name for f in et.elementType.fields] == ["key", "value"]
        ):
            raise ZedCompileError(
                "unflatten() needs an array of {key, value} leaves "
                "(the flatten() shape)"
            )
        srcs = _FLATTEN_SRC.get() or ()
        if not srcs:
            raise ZedCompileError(
                "unflatten(): the output record's key set must be "
                "static — derive the leaves from a flatten() upstream "
                "in the same program (filtered/transformed subsets are "
                "fine); fully dynamic keys cannot produce a Spark schema"
            )
        if len(srcs) > 1:
            raise ZedCompileError(
                "unflatten(): ambiguous — this program flattens "
                f"{len(srcs)} different record schemas "
                f"({', '.join(s.simpleString() for s in srcs)}); "
                "unflatten cannot tell which one to rebuild"
            )
        src = srcs[0]
        # map_from_entries keyed by the joined path, then one map
        # access per statically-known leaf — pure column algebra
        # inside whole-stage codegen, no UDF, no shuffle
        sep = "\x1f"  # cannot occur in Zed field names
        m = F.map_from_entries(
            F.transform(
                entries,
                lambda s: F.struct(
                    F.array_join(s["key"], sep).alias("k"),
                    s["value"].alias("v"),
                ),
            )
        )

        def _rebuild(t: T.StructType, path: list[str]) -> Column:
            fields = []
            for f in t.fields:
                p = path + [f.name]
                if isinstance(f.dataType, T.StructType):
                    fields.append(_rebuild(f.dataType, p).alias(f.name))
                else:
                    # cast back from flatten's widened value type
                    fields.append(
                        m[F.lit(sep.join(p))].cast(f.dataType).alias(f.name)
                    )
            return F.struct(*fields)

        return _rebuild(src, [])
    if name == "grok":
        from ..functions import grok as zgrok

        if len(args) not in (2, 3):
            raise ZedCompileError("grok() takes (pattern, string[, definitions])")
        pattern = _pattern_literal(args[0], "grok()")
        defs = None
        if len(args) == 3:
            # Zed's third arg: newline-separated "NAME PATTERN" custom
            # definitions (a compile-time literal, like the pattern)
            if not (isinstance(args[2], ast.Lit) and isinstance(args[2].value, str)):
                raise ZedCompileError("grok() definitions must be a string literal")
            defs = {}
            for line in args[2].value.splitlines():
                line = line.strip()
                if not line:
                    continue
                parts = line.split(None, 1)
                if len(parts) != 2:
                    raise ZedCompileError(
                        f"grok() definition line {line!r} is not 'NAME PATTERN'"
                    )
                defs[parts[0]] = parts[1]
        try:
            return zgrok.grok(pattern, compile_expr(args[1], df), defs)
        except zgrok.GrokError as exc:
            raise ZedCompileError(str(exc))
    if name == "regexp":
        # regexp(re, s): array of [match, group1, ...], null when the
        # pattern doesn't match (Zed func docs regexp.md).  Group count
        # is static, so this is one rlike guard + N regexp_extract.
        if len(args) != 2:
            raise ZedCompileError("regexp() takes (pattern, string)")
        pattern = _pattern_literal(args[0], "regexp()")
        ngroups = _java_regex_groups(df, pattern, "regexp()")
        s = compile_expr(args[1], df)
        return F.when(
            s.rlike(pattern),
            F.array(
                *[F.regexp_extract(s, pattern, i) for i in range(ngroups + 1)]
            ),
        )
    if name == "regexp_replace":
        if len(args) != 3:
            raise ZedCompileError(
                "regexp_replace() takes (string, pattern, replacement)"
            )
        pattern = _pattern_literal(args[1], "regexp_replace()")
        _java_regex_groups(df, pattern, "regexp_replace()")  # dialect validation
        return F.regexp_replace(
            compile_expr(args[0], df), pattern, compile_expr(args[2], df)
        )
    if name == "base64":
        # Type-directed like Zed: bytes → base64 string, string → bytes.
        if len(args) != 1:
            raise ZedCompileError("base64() takes one argument")
        col = compile_expr(args[0], df)
        t = _col_type(df, col)
        if isinstance(t, T.BinaryType):
            return F.base64(col)
        if isinstance(t, T.StringType):
            return F.unbase64(col)
        raise ZedCompileError("base64() takes bytes (encode) or string (decode)")
    if name == "hex":
        if len(args) != 1:
            raise ZedCompileError("hex() takes one argument")
        col = compile_expr(args[0], df)
        t = _col_type(df, col)
        if isinstance(t, T.StringType):
            return F.unhex(col)
        return F.lower(F.hex(col))
    if name == "strftime":
        if len(args) != 2:
            raise ZedCompileError("strftime() takes (format, time)")
        if not (isinstance(args[0], ast.Lit) and isinstance(args[0].value, str)):
            raise ZedCompileError("strftime() format must be a string literal")
        return F.date_format(
            compile_expr(args[1], df), _strftime_java(args[0].value)
        )
    if name == "bucket":
        # bucket(ts, span): span-aligned truncation of an explicit time
        # expression (every() is the implicit-`ts` form above).
        if len(args) != 2 or not isinstance(args[1], ast.DurationLit):
            raise ZedCompileError("bucket() takes (time, duration literal)")
        secs = args[1].seconds
        if secs < 1 or secs != int(secs):
            raise ZedCompileError("bucket() supports whole-second durations")
        step = int(secs)
        ts = compile_expr(args[0], df)
        return F.timestamp_seconds(
            (F.unix_timestamp(ts) / step).cast("long") * step
        )
    if name in _FUNCS:
        return _FUNCS[name](*[compile_expr(a, df) for a in args])
    raise ZedCompileError(f"unknown function {name!r}")


# --------------------------------------------------------------------------
# Aggregates

_AGGS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    # Zed's collect preserves input order; a distributed collect_list's
    # order is whatever the shuffle delivered.  sort_array restores a
    # deterministic order — ascending by the element's natural
    # comparison, which for the pool/txn shapes (struct led by
    # seqno/offset — design.md:117-128) IS the input order.
    "collect": lambda c: F.sort_array(F.collect_list(c)),
    "union": F.collect_set,
    "and": F.bool_and,
    "or": F.bool_or,
    "any": lambda c: F.first(c, ignorenulls=True),
    "dcount": F.approx_count_distinct,
}


def _agg_col(
    spec: ast.AggSpec, df: DataFrame, order_col: Column | None = None
) -> Column:
    name = spec.name or spec.func
    arg = compile_expr(spec.arg, df) if spec.arg is not None else None
    if spec.where is not None:
        w = compile_expr(spec.where, df)
        arg = F.when(w, arg if arg is not None else F.lit(1))
    if spec.func == "count":
        col = F.count(arg) if arg is not None else F.count(F.lit(1))
        return col.alias(name)
    if arg is None:
        raise ZedCompileError(f"{spec.func}() needs an argument")
    if spec.func == "collect" and order_col is not None:
        # an upstream sort pinned an explicit element order (over-scope
        # inner sort): collect (order, value) pairs, sort by the order
        # column, strip it — Zed's collect preserves the sorted
        # sequence.  Still one partial-aggregated collect_list; the
        # sort is per-group array algebra, not a shuffle.
        pair = F.struct(order_col.alias("o"), arg.alias("v"))
        col = F.transform(
            F.array_sort(
                F.filter(F.collect_list(pair), lambda s: s["v"].isNotNull())
            ),
            lambda s: s["v"],
        )
        return col.alias(name)
    if spec.func == "collect" and isinstance(spec.arg, ast.Path) and not spec.arg.parts:
        # collect(this): collect the whole record (design.md txn bundles)
        pass
    return _AGGS[spec.func](arg).alias(name)


# --------------------------------------------------------------------------
# Operators


def compile_seq(df: DataFrame | None, seq: ast.Seq, ctx: Ctx) -> DataFrame:
    ops = seq.ops
    i = 0
    while i < len(ops):
        op = ops[i]
        nxt = ops[i + 1] if i + 1 < len(ops) else None
        if isinstance(op, (ast.OpFrom, ast.OpFork)) and isinstance(nxt, ast.OpJoin):
            legs = _legs(df, op, ctx)
            if len(legs) != 2:
                raise ZedCompileError("join needs exactly two upstream legs")
            df = _join(legs[0], legs[1], nxt, ctx)
            i += 2
            continue
        df = _one(df, op, ctx)
        i += 1
    if df is None:
        raise ZedCompileError("empty program")
    return df


def _legs(df: DataFrame | None, op: ast.Op, ctx: Ctx) -> list[DataFrame]:
    if isinstance(op, ast.OpFrom):
        out = []
        for leg in op.legs:
            src = ctx.source(leg.source)
            # pool reads are offset-ordered (pool key kafka.offset asc,
            # fifo/lake.go:36-39); plain tables carry no implicit order
            ctx.order = (
                [ast.SortKey(ast.Path(["kafka", "offset"]), False)]
                if "kafka" in src.columns
                else None
            )
            out.append(compile_seq(src, leg.seq, ctx))
        return out
    assert isinstance(op, ast.OpFork)
    # df may be None when every branch starts with its own `from`
    # (the shape etl/build.go:131-140 emits for multi-input transforms).
    return [compile_seq(df, b, ctx) for b in op.branches]


def _one(df: DataFrame | None, op: ast.Op, ctx: Ctx) -> DataFrame:
    if isinstance(op, (ast.OpFrom, ast.OpFork)):
        legs = _legs(df, op, ctx)
        ctx.order = None if len(legs) > 1 else ctx.order
        return datamodel.fuse(*legs)
    if df is None:
        raise ZedCompileError(f"{type(op).__name__} needs an input (start with `from`)")
    if isinstance(op, ast.OpWhere):
        return df.filter(compile_expr(op.expr, df))
    if isinstance(op, ast.OpYield):
        ctx.order = None
        outs = [_yield_one(df, e, ctx) for e in op.exprs]
        return outs[0] if len(outs) == 1 else datamodel.fuse(*outs)
    if isinstance(op, ast.OpPut):
        return _put(df, op.assignments)
    if isinstance(op, ast.OpRename):
        for new, old in op.pairs:
            if len(new) == 1 and len(old) == 1:
                # position-preserving top-level rename
                df = df.withColumnRenamed(old[0], new[0])
                continue
            # nested: Zed requires src and dst inside the same record
            # (a rename moves a field, it cannot reparent it)
            if len(new) != len(old) or new[:-1] != old[:-1]:
                raise ZedCompileError(
                    "rename must keep the field in the same record "
                    f"({'.'.join(old)} -> {'.'.join(new)})"
                )
            df = _rename_nested(df, old, new[-1])
        return df
    if isinstance(op, ast.OpCut):
        return _cut(df, op)
    if isinstance(op, ast.OpDrop):
        for parts in op.paths:
            if len(parts) == 1:
                df = df.drop(parts[0])
            else:
                df = df.withColumn(
                    parts[0], df[f"`{parts[0]}`"].dropFields(".".join(parts[1:]))
                )
        return df
    if isinstance(op, ast.OpSort):
        ctx.order = op.keys
        return df.orderBy(*[_sort_col(k, df) for k in op.keys])
    if isinstance(op, ast.OpHead):
        return df.limit(op.n)
    if isinstance(op, ast.OpTail):
        if not ctx.order:
            raise ZedCompileError("tail requires ordered input (sort first)")
        rev = [ast.SortKey(k.expr, not k.desc) for k in ctx.order]
        out = df.orderBy(*[_sort_col(k, df) for k in rev]).limit(op.n)
        return out.orderBy(*[_sort_col(k, out) for k in ctx.order])
    if isinstance(op, ast.OpUniq):
        # Zed uniq drops ADJACENT duplicates; after the sorts that
        # precede it in practice, adjacency == global distinct.  -c
        # annotates each value with its multiplicity (group-by-all).
        if op.count:
            cols = _data_cols(df)
            return df.groupBy(*[F.col(f"`{c}`") for c in cols]).agg(
                F.count(F.lit(1)).alias("count")
            )
        return df.dropDuplicates()
    if isinstance(op, (ast.OpFuse, ast.OpPass)):
        return df  # schema already fused per-DataFrame
    if isinstance(op, ast.OpSample):
        # `sample`/`shapes`: one representative value per distinct shape.
        # Shape on a fixed-schema engine = the named-type tag (_type)
        # when present, else the (single) static schema.  The
        # representative is made deterministic by taking the struct-min
        # over the data columns — one partial-aggregated groupBy whose
        # key cardinality is the number of shapes, not rows.
        ctx.order = None
        cols = _data_cols(df)
        key = (
            F.col("_type") if "_type" in df.columns else F.lit("record")
        )
        rep = df.groupBy(key.alias("__shape")).agg(
            F.min(F.struct(*[F.col(f"`{c}`") for c in cols])).alias("__s")
        )
        if "_type" in df.columns:
            return rep.select("__s.*", F.col("__shape").alias("_type"))
        return rep.select("__s.*")
    if isinstance(op, ast.OpSwitch):
        return _switch(df, op, ctx)
    if isinstance(op, ast.OpJoin):
        raise ZedCompileError("join must directly follow fork/from with two legs")
    if isinstance(op, ast.OpOver):
        return _over(df, op, ctx)
    if isinstance(op, ast.OpTop):
        # sort desc + limit: Spark plans TakeOrderedAndProject (per-
        # partition heap + driver merge of N rows), the same bounded-
        # memory shape the reference's top operator implements
        out = df.orderBy(*[_sort_col(k, df) for k in op.keys]).limit(op.limit)
        ctx.order = op.keys
        return out
    if isinstance(op, ast.OpSummarize):
        ctx.order = None
        aggs = [_agg_col(a, df) for a in op.aggs]
        if op.by:
            keys = [compile_expr(e, df).alias(n) for n, e in op.by]
            return df.groupBy(*keys).agg(*aggs)
        return df.agg(*aggs)
    raise ZedCompileError(f"unsupported operator {type(op).__name__}")


def _over(df: DataFrame, op: ast.OpOver, ctx: Ctx) -> DataFrame:
    """`over a, b [with x=e ...] [=> ( seq )]` — un-nest array values
    into the output sequence (the Zed over operator).

    Bare form: record elements spread to top level; scalar elements
    become a single column named after the final path segment ('value'
    for computed expressions) — the typed-engine stand-in for Zed's
    scalar top-level values, same restriction as yield.  Multiple
    expressions concatenate leg-wise (this engine is set-oriented:
    inter-row order comes from an explicit sort, not arrival).

    Lateral form (`=> ( seq )`): the subquery runs over EACH input
    value's nested sequence independently, with the with-bindings in
    scope as variables.  Spark realization: explode alongside a
    per-parent id, compile the subquery ops with that id as an implicit
    group key (aggregates become groupBy(__over_pid, by...)), then drop
    the id and any binding variable the subquery didn't explicitly
    surface — bindings are VARIABLES, not output fields (Zed over
    docs).  Physical shape: the lateral aggregate is one explode + one
    partial-aggregated groupBy keyed by parent — parallelism follows
    the parent partitioning, no per-parent task or window sort.
    """

    if op.seq is None:
        legs = []
        for e in op.exprs:
            col = compile_expr(e, df)
            t = _col_type(df, col)
            if not isinstance(t, T.ArrayType):
                raise ZedCompileError("over needs array-valued expressions")
            elem = df.select(F.explode(col).alias("__elem"))
            if isinstance(t.elementType, T.StructType):
                legs.append(elem.select("__elem.*"))
            else:
                name = e.parts[-1] if isinstance(e, ast.Path) and e.parts else "value"
                legs.append(elem.select(F.col("__elem").alias(name)))
        return datamodel.fuse(*legs) if len(legs) > 1 else legs[0]

    pid = "__over_pid"
    bindings = op.bindings or []
    for name, _ in bindings:
        if name == pid:
            raise ZedCompileError(f"binding name {name!r} is reserved")
    bound = {n for n, _ in bindings}
    parent = df.select(
        F.monotonically_increasing_id().alias(pid),
        *[compile_expr(e, df).alias(n) for n, e in bindings],
        *[c for c in df.columns if c not in bound],
    )
    # Pin the parent ids: monotonically_increasing_id() is
    # partition-layout-dependent, and the frame is consumed by several
    # legs below — a recomputed stage (executor loss, AQE re-plan
    # between actions) could reassign ids and silently mis-group the
    # lateral aggregates.  A lazy localCheckpoint materializes the
    # id-stamped rows on first use and cuts the lineage, so every leg
    # sees the same ids (r7 advice #1).
    parent = parent.localCheckpoint(eager=False)
    # explode off `parent` (it has pid + bindings + the original
    # columns, so both binding names and original paths resolve); keep
    # pid and binding columns through the explode
    keep = [F.col(f"`{pid}`")] + [F.col(f"`{n}`") for n, _ in bindings]
    ord_name = "__over_ord"
    legs = []
    for li, e in enumerate(op.exprs):
        col = compile_expr(e, parent)
        t = _col_type(parent, col)
        if not isinstance(t, T.ArrayType):
            raise ZedCompileError("over needs array-valued expressions")
        # posexplode: the element's ARRAY POSITION is the scope's
        # initial element order (Zed's nested sequence is ordered; a
        # later `sort` re-ranks, `head` cuts on it, and collect()
        # preserves it).  Multiple over-expressions concatenate, so a
        # leg offset keeps leg 2 after leg 1 (1-based overall).
        elem = parent.select(
            *keep, F.posexplode(col).alias("__over_pos", "__elem")
        )
        ordc = (F.col("__over_pos") + 1 + li * (1 << 40)).alias(ord_name)
        if isinstance(t.elementType, T.StructType):
            legs.append(
                elem.select(pid, ordc, *[n for n, _ in bindings], "__elem.*")
            )
        else:
            name = e.parts[-1] if isinstance(e, ast.Path) and e.parts else "value"
            legs.append(
                elem.select(
                    pid, ordc, *[n for n, _ in bindings],
                    F.col("__elem").alias(name),
                )
            )
    cur = datamodel.fuse(*legs) if len(legs) > 1 else legs[0]

    hidden = {n for n, _ in bindings}
    hidden.add(ord_name)
    ord_col: Column | None = F.col(ord_name)

    def _rerank(df: DataFrame, order_by: list[Column]) -> DataFrame:
        # per-parent rank: a pid-partitioned window — bounded by the
        # array length, shuffled on the same pid key the lateral
        # aggregate needs anyway
        from pyspark.sql import Window  # noqa: PLC0415

        w = Window.partitionBy(pid).orderBy(*order_by)
        return df.withColumn(ord_name, F.row_number().over(w).cast("long"))

    ops = op.seq.ops
    for i, sub in enumerate(ops):
        last = i == len(ops) - 1
        if isinstance(sub, ast.OpWhere):
            cur = cur.filter(compile_expr(sub.expr, cur))
        elif isinstance(sub, ast.OpSort):
            # inner sort: re-rank WITHIN the parent scope; the rank
            # feeds head/collect downstream.  Row order of the flat
            # output still needs an explicit outer sort, as ever.
            # The prior element order breaks ties (a bare row_number
            # over only the user keys would rank equal elements
            # nondeterministically across runs/partitionings — Zed's
            # sort is stable, and the hash-exact oracle discipline
            # needs determinism even for fields collect() never sees).
            cur = _rerank(
                cur,
                [_sort_col(k, cur) for k in sub.keys] + [F.col(ord_name).asc()],
            )
        elif isinstance(sub, (ast.OpHead, ast.OpTail)):
            if ord_col is None:
                raise ZedCompileError(
                    f"{'head' if isinstance(sub, ast.OpHead) else 'tail'} "
                    "after an in-scope aggregation is not supported"
                )
            # first/last N SURVIVORS per parent in the current element
            # order: re-rank over the live rows, then cut
            desc = isinstance(sub, ast.OpTail)
            cur = _rerank(
                cur,
                [F.col(ord_name).desc() if desc else F.col(ord_name).asc()],
            ).filter(F.col(ord_name) <= sub.n)
            if desc:
                # restore ascending element order for later stages
                cur = _rerank(cur, [F.col(ord_name).desc()])
        elif isinstance(sub, ast.OpPut):
            cur = _put(cur, sub.assignments)
            hidden -= {a[0][0] for a in sub.assignments}
        elif isinstance(sub, ast.OpSummarize):
            aggs = [_agg_col(a, cur, order_col=ord_col) for a in sub.aggs]
            keys = [F.col(f"`{pid}`")] + [
                compile_expr(e, cur).alias(n) for n, e in (sub.by or [])
            ]
            cur = cur.groupBy(*keys).agg(*aggs)
            hidden = set()  # groupBy output carries only keys + aggs
            ord_col = None
        elif isinstance(sub, (ast.OpCut, ast.OpYield)) and last:
            # terminal projection: selects exactly what it names, so pid
            # and unused bindings fall away with it
            if isinstance(sub, ast.OpCut):
                return _cut(cur, sub)
            outs = []
            for e in sub.exprs:
                if isinstance(e, ast.Path) and not e.parts:
                    # `yield this`: the element record — plumbing
                    # columns and unsurfaced bindings must not leak
                    outs.append(
                        _yield_one(cur.drop(pid, ord_name, *hidden), e, ctx)
                    )
                else:
                    outs.append(_yield_one(cur, e, ctx))
            return outs[0] if len(outs) == 1 else datamodel.fuse(*outs)
        else:
            raise ZedCompileError(
                "over-scope supports where / sort / head / tail / put / "
                "aggregation, with cut or yield as the final operator "
                "(row order of the flat output needs an explicit outer "
                "sort)"
            )
    return cur.drop(pid, *hidden)


def _sort_col(k: ast.SortKey, df: DataFrame) -> Column:
    c = compile_expr(k.expr, df)
    # Zed sorts nulls last in both directions; so does DuckDB's default.
    return c.desc_nulls_last() if k.desc else c.asc_nulls_last()


def _yield_one(df: DataFrame, e: ast.Expr, ctx: Ctx) -> DataFrame:
    if isinstance(e, ast.Path) and not e.parts:  # yield this
        return df
    named: str | None = None
    if isinstance(e, ast.CastExpr):
        col, named = compile_cast(e, df)
    else:
        col = compile_expr(e, df)
    if named is not None:
        if ctx.decls.get(named) is None:
            raise ZedCompileError(f"cast to undeclared type {named!r}")
        # compile_cast already conformed the value to the declared shape
        out = df.select(col.alias("__this")).select("__this.*")
        return out.withColumn("_type", F.lit(named))
    t = _col_type(df, col)
    if not isinstance(t, T.StructType):
        raise ZedCompileError("yield of a non-record value is not supported")
    out = df.select(col.alias("__this")).select("__this.*")
    # Tag rows only when the input stream carries named-type tags (pool
    # reads do; clean tables don't and shouldn't grow a meta column).
    if "_type" in df.columns and "_type" not in out.columns:
        out = out.withColumn("_type", F.lit(datamodel.TYPE_DATA))
    return out


def _make_struct(parts: list[str], value: Column) -> Column:
    for p in reversed(parts):
        value = F.struct(value.alias(p))
    return value


def _with_field(col: Column, parts: list[str], value: Column) -> Column:
    if len(parts) == 1:
        return col.withField(parts[0], value)
    return col.withField(
        parts[0], _with_field(col.getField(parts[0]), parts[1:], value)
    )


def _put(df: DataFrame, assignments: list[tuple[list[str], ast.Expr]]) -> DataFrame:
    for parts, rhs in assignments:
        value = compile_expr(rhs, df)
        top = parts[0]
        if len(parts) == 1:
            df = df.withColumn(top, value)
        elif top in df.columns:
            df = df.withColumn(top, _with_field(df[f"`{top}`"], parts[1:], value))
        else:
            df = df.withColumn(top, _make_struct(parts[1:], value))
    return df


def _cut(df: DataFrame, op: ast.OpCut) -> DataFrame:
    # Zed cut preserves nested shape: `cut kafka.topic, value` ->
    # {kafka:{topic},value}. Group selected leaves by their head field.
    cols: list[Column] = []
    grouped: dict[str, list[tuple[list[str], ast.Expr | None]]] = {}
    order: list[str] = []
    for parts, expr in op.paths:
        head = parts[0]
        if head not in grouped:
            grouped[head] = []
            order.append(head)
        grouped[head].append((parts, expr))
    for head in order:
        entries = grouped[head]
        if len(entries) == 1 and len(entries[0][0]) == 1:
            parts, expr = entries[0]
            value = compile_expr(expr, df) if expr is not None else _path(parts, df)
            cols.append(value.alias(head))
            continue
        subs: list[Column] = []
        for parts, expr in entries:
            if len(parts) < 2:
                raise ZedCompileError(
                    f"cut mixes whole field {head!r} with its subfields"
                )
            value = compile_expr(expr, df) if expr is not None else _path(parts, df)
            subs.append(value.alias(parts[-1]))
        cols.append(F.struct(*subs).alias(head))
    if "_type" in df.columns:
        cols.append(F.col("_type"))
    return df.select(*cols)


def _switch(df: DataFrame, op: ast.OpSwitch, ctx: Ctx) -> DataFrame:
    # First-match routing (etl/build.go:92-99: cases are emitted in rule
    # order and a record feeds exactly one case).
    outs: list[DataFrame] = []
    prev: Column | None = None
    default_seq: ast.Seq | None = None
    for case in op.cases:
        if case.cond is None:
            default_seq = case.seq
            continue
        cond = compile_expr(case.cond, df)
        if op.subject is not None:
            cond = compile_expr(op.subject, df) == cond
        # three-valued logic: a NULL predicate is "not matched", and must
        # not poison later cases (true & ~NULL = NULL would drop the row)
        cond = F.coalesce(cond, F.lit(False))
        eff = cond if prev is None else cond & ~prev
        prev = cond if prev is None else prev | cond
        sub_ctx = Ctx(ctx.spark, ctx.source, ctx.decls, ctx.order)
        outs.append(compile_seq(df.filter(eff), case.seq, sub_ctx))
    if default_seq is not None:
        rest = df if prev is None else df.filter(~F.coalesce(prev, F.lit(False)))
        sub_ctx = Ctx(ctx.spark, ctx.source, ctx.decls, ctx.order)
        outs.append(compile_seq(rest, default_seq, sub_ctx))
    if not outs:
        raise ZedCompileError("switch with no cases")
    ctx.order = None
    return datamodel.fuse(*outs)


def _rename_nested(df: DataFrame, old: list[str], new_name: str) -> DataFrame:
    """Rename a nested struct field IN PLACE (sibling order preserved —
    withField would append at the end and change the record shape Zed
    keeps stable).  Missing paths are a no-op, like the top-level
    rename."""
    top = old[0]
    dt = _type_at(df.schema, [top])
    if dt is None:
        return df

    def rebuild(col: Column, sdt: T.DataType, path: list[str]) -> Column | None:
        if not isinstance(sdt, T.StructType) or path[0] not in sdt.fieldNames():
            return None
        fields = []
        for f in sdt.fields:
            child = col[f.name]
            if f.name != path[0]:
                fields.append(child.alias(f.name))
            elif len(path) == 1:
                fields.append(child.alias(new_name))
            else:
                inner = rebuild(child, f.dataType, path[1:])
                if inner is None:
                    return None
                fields.append(inner.alias(f.name))
        return F.struct(*fields)

    rebuilt = rebuild(df[f"`{top}`"], dt, old[1:])
    return df if rebuilt is None else df.withColumn(top, rebuilt)


def _join(left: DataFrame, right: DataFrame, op: ast.OpJoin, ctx: Ctx) -> DataFrame:
    # Rename the right leg's columns to a reserved prefix so key and
    # assignment expressions compile unambiguously even when both legs
    # share lineage (both read the same pool — etl/build.go:113-118).
    rmap = {c: f"__zr_{c}" for c in right.columns}
    r = right.select(*[right[f"`{c}`"].alias(rmap[c]) for c in right.columns])

    def right_expr(e: ast.Expr) -> Column:
        return _compile_prefixed(e, r, rmap)

    lk = compile_expr(op.left_key, left)
    rk = right_expr(op.right_key)
    how = {"inner": "inner", "anti": "left_anti", "left": "left"}[op.kind]
    joined = left.join(r, lk == rk, how)
    if op.kind == "anti":
        return joined
    cols = [joined[f"`{c}`"] for c in left.columns]
    names = list(left.columns)
    for parts, rhs in op.assignments:
        if len(parts) != 1:
            raise ZedCompileError("join assignment must be a top-level field")
        col = right_expr(rhs).alias(parts[0])
        if parts[0] in names:
            cols[names.index(parts[0])] = col
        else:
            cols.append(col)
            names.append(parts[0])
    return joined.select(*cols)


def _compile_prefixed(e: ast.Expr, df: DataFrame, rmap: dict[str, str]) -> Column:
    """Compile an expression against the renamed right leg: rewrite the
    head of every path through rmap."""
    if isinstance(e, ast.Path):
        if not e.parts:
            inv = {v: k for k, v in rmap.items()}
            cols = [
                df[f"`{c}`"].alias(inv[c])
                for c in df.columns
                if inv.get(c) not in META_COLS
            ]
            return F.struct(*cols)
        head = rmap.get(e.parts[0])
        if head is None:
            return F.lit(None)
        return _path([head] + e.parts[1:], df)
    if isinstance(e, ast.Bin):
        return _bin_shim(e, df, rmap)
    if isinstance(e, ast.RecordLit):
        return F.struct(
            *[_compile_prefixed(v, df, rmap).alias(n) for n, v in e.fields]
        )
    if isinstance(e, ast.CastExpr):
        inner = ast.CastExpr(_rewrite_paths(e.expr, rmap), e.to)
        col, _ = compile_cast(inner, df)
        return col
    return compile_expr(_rewrite_paths(e, rmap), df)


def _bin_shim(e: ast.Bin, df: DataFrame, rmap: dict[str, str]) -> Column:
    return _bin(_rewrite_paths(e, rmap), df)


def _rewrite_paths(e: ast.Expr, rmap: dict[str, str]) -> ast.Expr:
    if isinstance(e, ast.Path):
        if e.parts and e.parts[0] in rmap:
            return ast.Path([rmap[e.parts[0]]] + e.parts[1:])
        return e
    if isinstance(e, ast.Bin):
        return ast.Bin(e.op, _rewrite_paths(e.left, rmap), _rewrite_paths(e.right, rmap))
    if isinstance(e, ast.Not):
        return ast.Not(_rewrite_paths(e.expr, rmap))
    if isinstance(e, ast.Neg):
        return ast.Neg(_rewrite_paths(e.expr, rmap))
    if isinstance(e, ast.Cond):
        return ast.Cond(
            _rewrite_paths(e.cond, rmap),
            _rewrite_paths(e.then, rmap),
            _rewrite_paths(e.other, rmap),
        )
    if isinstance(e, ast.Call):
        return ast.Call(e.name, [_rewrite_paths(a, rmap) for a in e.args])
    if isinstance(e, ast.RecordLit):
        return ast.RecordLit([(n, _rewrite_paths(v, rmap)) for n, v in e.fields])
    if isinstance(e, ast.ArrayLit):
        return ast.ArrayLit([_rewrite_paths(i, rmap) for i in e.items])
    if isinstance(e, ast.MapLit):
        return ast.MapLit(
            [(_rewrite_paths(k, rmap), _rewrite_paths(v, rmap)) for k, v in e.pairs]
        )
    if isinstance(e, ast.Index):
        return ast.Index(_rewrite_paths(e.base, rmap), _rewrite_paths(e.index, rmap))
    if isinstance(e, ast.CastExpr):
        return ast.CastExpr(_rewrite_paths(e.expr, rmap), e.to)
    return e


# --------------------------------------------------------------------------
# Entry points


def compile_query(
    spark: SparkSession,
    text: str,
    *,
    tables: dict[str, DataFrame] | Callable[[str], DataFrame] | None = None,
    pools: Callable[[str], object] | None = None,
    df: DataFrame | None = None,
) -> DataFrame:
    """Parse + compile a Zed program.  Source names in `from` resolve
    first through `tables` (name -> DataFrame), then through `pools`
    (name -> Pool; read via Pool.df()).  An explicit `df` serves as
    the initial input for programs that don't start with `from`."""

    def source(name: str) -> DataFrame:
        if tables is not None:
            if callable(tables):
                try:
                    out = tables(name)
                except KeyError:
                    out = None
                if out is not None:
                    return out
            elif name in tables:
                return tables[name]
        if pools is not None:
            pool = pools(name)
            if pool is not None:
                return pool.df()
        raise ZedCompileError(f"unknown source {name!r}")

    prog = parse(text)
    decls = {d.name: d.spark_type for d in prog.decls}
    ctx = Ctx(spark, source, decls)
    token = _DECLS.set(decls)
    ctok = _CONSTS.set({c.name: c.expr for c in prog.consts})
    ftok = _FLATTEN_SRC.set(None)
    try:
        return compile_seq(df, prog.seq, ctx)
    finally:
        _FLATTEN_SRC.reset(ftok)
        _CONSTS.reset(ctok)
        _DECLS.reset(token)


def zed_transform(text: str) -> Callable[[DataFrame], DataFrame]:
    """Compile a Zed script into a DataFrame->DataFrame transform — the
    RunLocalQuery analog (fifo/lake.go:94-106) behind the `-shaper`
    flag of from-kafka/to-kafka (cli/shaper.go:12-14,
    cmd/zync/from-kafka/command.go:276-285).  Parsed once; compiled
    against each batch's schema."""
    prog = parse(text)
    decls = {d.name: d.spark_type for d in prog.decls}

    def t(df: DataFrame) -> DataFrame:
        ctx = Ctx(
            df.sparkSession,
            lambda name: (_ for _ in ()).throw(
                ZedCompileError(f"shaper scripts cannot read sources ({name!r})")
            ),
            decls,
        )
        token = _DECLS.set(decls)
        ctok = _CONSTS.set({c.name: c.expr for c in prog.consts})
        ftok = _FLATTEN_SRC.set(None)
        try:
            return compile_seq(df, prog.seq, ctx)
        finally:
            _FLATTEN_SRC.reset(ftok)
            _CONSTS.reset(ctok)
            _DECLS.reset(token)

    return t


def compile_predicate(text: str) -> Column:
    """Compile a standalone Zed boolean expression to an unbound Column
    (YAML `where` clauses like `value.op in ["c", "r"]`,
    demo/invoices.yaml)."""
    from zinger_spark.zedql.parser import parse_expr_text

    return compile_expr(parse_expr_text(text), None)


def compile_rule_seq(
    df: DataFrame,
    text: str,
    decls: dict[str, T.StructType] | None = None,
) -> DataFrame:
    """Compile a YAML rule's `zed:` block (a pipeline fragment like
    `| out:={...}` — demo/invoices.yaml) over an input DataFrame whose
    columns are the wrapped scope fields (`in` / `left`+`right`)."""
    prog = parse(text)
    if prog.decls:
        decls = {**(decls or {}), **{d.name: d.spark_type for d in prog.decls}}
    ctx = Ctx(df.sparkSession, lambda name: (_ for _ in ()).throw(
        ZedCompileError(f"rule blocks cannot read sources ({name!r})")
    ), decls or {})
    token = _DECLS.set(decls or {})
    ctok = _CONSTS.set({c.name: c.expr for c in prog.consts})
    ftok = _FLATTEN_SRC.set(None)
    try:
        return compile_seq(df, prog.seq, ctx)
    finally:
        _FLATTEN_SRC.reset(ftok)
        _CONSTS.reset(ctok)
        _DECLS.reset(token)
