"""Compile parsed VPL programs onto the Stream API.

Expression lowering has three backends, matching the two pattern execution
paths plus plain relational ops:
- `to_column`  → Spark Column (where/select/emit outside patterns)
- `to_python`  → (event, bindings) closure for the NFA
- `to_sql`     → alias-qualified SQL for the pattern join compiler

Program-level semantics (ast.rs Statement, crates/varpulis-core/src/ast.rs):
- `fn` declarations (ast.rs:37-44): expression-bodied functions are INLINED
  at every call site before lowering, so user functions run JVM-side as
  Catalyst expressions, not Python UDFs (the reference interprets them per
  event, evaluator.rs). Imperative bodies (`for`/`emit`) drive `.process`.
- `event` declarations (ast.rs:29-34) contribute column casts: a declared
  field present in the input is cast to its declared type (the reference
  validates payloads against the schema at ingest, event.rs).
- `var`/`const` (ast.rs:45-50) are compile-time constants substituted into
  expressions.
- `pattern Name = SEQ(...) within d partition by f` (ast.rs:106-112) binds a
  reusable pattern; a stream whose source names it applies its ops to the
  pattern's match stream.
- merge/join/sequence/timer stream sources (ast.rs StreamSource:165-190).

Reference-parity notes:
- `.not(E where c)` is the reference's global negation
  (GlobalNegation sase.rs:1842-1849): compiled as a negation guard between
  every pair of adjacent positive steps (the union of those open intervals
  is the match span).
- a `.where` AFTER a pattern chain referencing step aliases is merged into
  the final step's predicate — the reference's filter-pushdown-into-NFA
  (engine/compiler.rs:146-156). A `.where` BETWEEN steps binds to the
  preceding step (order_payment.vpl interleaving).
- when every post-first step correlates on the same field
  (`f == first.f`), the compiler auto-partitions on `f` (the reference
  SASEXT `partition by`), turning one NFA universe into per-key parallelism
  and enabling the Catalyst join path.
- `.print`/`.log` are accepted anywhere and compiled to no-ops: they are
  side-effecting diagnostics in the reference (engine/types.rs:424-434);
  triggering actions at compile time would force eager evaluation.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import replace as dc_replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from varpulis_spark.operators import aggregates as A
from varpulis_spark.operators.sase import (
    SKIP_TILL_ANY,
    SKIP_TILL_NEXT,
    Pattern,
    Step,
)
from varpulis_spark.stream import Stream
from varpulis_spark.stream import merge as stream_merge
from varpulis_spark.vpl.parser import (
    AssignStmt,
    Bin,
    BreakStmt,
    Call,
    ContinueStmt,
    Dur,
    EmitStmt,
    EventDecl,
    ExprStmt,
    FnDecl,
    ForStmt,
    If,
    IfStmt,
    LetStmt,
    ReturnStmt,
    WhileStmt,
    Index,
    JoinSource,
    Lambda,
    ListLit,
    Lit,
    MapLit,
    MergeSource,
    OpCall,
    Range,
    PatAnd,
    PatNot,
    PatOr,
    PatSeq,
    PatternDecl,
    PatternStep,
    Ref,
    SequenceSource,
    Slice,
    StreamDecl,
    TimerSource,
    Un,
    parse_full,
)

_AGG_FNS = {
    "count": A.count, "sum": A.sum, "avg": A.avg, "min": A.min, "max": A.max,
    "stddev": A.stddev, "variance": A.variance, "first": A.first,
    "last": A.last, "count_distinct": A.count_distinct, "median": A.median,
    "ema": A.ema,
}

# scalar built-ins (BuiltinFunction evaluator; completion.rs builtin list).
# Names not in the aggregate table lower to JVM-side Column functions.
_SCALAR_FNS = {
    "abs": F.abs, "sqrt": F.sqrt, "floor": F.floor, "ceil": F.ceil,
    "round": F.round, "lower": F.lower, "upper": F.upper, "trim": F.trim,
    "len": F.length, "exp": F.exp, "log": F.log, "log10": F.log10,
    "pow": F.pow, "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "contains": F.contains, "starts_with": F.startswith,
    "ends_with": F.endswith, "replace": F.replace, "split": F.split,
    "concat": F.concat,
    "substring": lambda s, a, b=None: _substring_col(s, a, b),
    "now": F.current_timestamp,
    "to_int": lambda c: c.cast("long"), "to_float": lambda c: c.cast("double"),
    "to_str": lambda c: c.cast("string"), "to_bool": lambda c: c.cast("boolean"),
}
_SCALAR_MULTI = {"min": F.least, "max": F.greatest}  # scalar min/max (2+ args)


_STR_RETURNING_FNS = {
    "lower", "upper", "lowercase", "uppercase", "trim", "replace",
    "concat", "substring", "to_str", "to_string",
}


def _stringy(e) -> bool:
    """Static is-this-a-string inference over the expression AST, used to
    pick concat vs numeric add for `+` (reference Add concatenates
    Str+Str, engine/evaluator.rs:1027-1041). Conservative: only returns
    True when a string is certain."""
    if isinstance(e, Lit):
        return isinstance(e.value, str)
    if isinstance(e, Bin):
        if e.op == "+":
            return _stringy(e.left) or _stringy(e.right)
        if e.op == "??":
            return _stringy(e.left) and _stringy(e.right)
        return False
    if isinstance(e, If):
        return _stringy(e.then) and _stringy(e.other)
    if isinstance(e, Call):
        return e.name in _STR_RETURNING_FNS
    return False


def _substring_col(s, a, b=None):
    """Column twin of the VPL `substring(s, start[, end])` builtin
    (evaluator.rs:738-757): 0-based [start, end) char slice; end defaults
    to the BYTE length; null when start > end or end > char-length or
    either index is negative (the reference's `as usize` wrap)."""
    start = a.cast("long") if isinstance(a, Column) else F.lit(int(a))
    if b is None:
        end = F.octet_length(s).cast("long")
    else:
        end = b.cast("long") if isinstance(b, Column) else F.lit(int(b))
    valid = (start >= 0) & (end >= 0) & (start <= end) & (end <= F.length(s))
    return F.when(valid, s.substr(start + 1, end - start))

# SQL spellings for the join-compiled pattern path (Spark SQL dialect)
_SQL_FNS = {
    "abs": "abs", "sqrt": "sqrt", "floor": "floor", "ceil": "ceil",
    "round": "round", "lower": "lower", "upper": "upper", "trim": "trim",
    "len": "length", "exp": "exp", "log": "ln", "log10": "log10",
    "pow": "power", "sin": "sin", "cos": "cos", "tan": "tan",
    "contains": "contains", "starts_with": "startswith",
    "ends_with": "endswith", "min": "least", "max": "greatest",
    "concat": "concat", "substring": "substring",
}

import math as _math

def _vpl_display(v) -> str:
    """Value::Display parity (varpulis-core/src/value.rs:184-215): null,
    lowercase bools, quoted strings, integral floats without the .0 suffix
    (Rust `{}` on f64)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.0f}" if v.is_integer() and abs(v) < 1e16 else repr(v)
    if isinstance(v, str):
        return f'"{v}"'
    if isinstance(v, list):
        return "[" + ", ".join(_vpl_display(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {_vpl_display(x)}" for k, x in v.items()) + "}"
    return str(v)


def _vpl_type_of(v) -> str:
    # bool before int: Python bool is an int subclass (evaluator.rs:760-770)
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "map"
    return "unknown"


def _vpl_substring(s, a, b=None):
    """`substring(s, start[, end])` (evaluator.rs:738-757): 0-based
    [start, end) CHAR slice. end defaults to the BYTE length (the
    reference's `s.len()`), the bounds check is against the char count —
    so the 2-arg form on a multi-byte string is null, faithfully. Null on
    start > end, end > len, negative indices (`as usize` wrap), or
    non-int/non-string arguments."""
    if not isinstance(s, str):
        return None
    if not _is_i(a) or (b is not None and not _is_i(b)):
        return None
    start = int(a)
    end = int(b) if b is not None else len(s.encode("utf-8"))
    if start < 0 or end < 0 or start > end or end > len(s):
        return None
    return s[start:end]


def _vpl_sort(xs):
    out = list(xs)
    out.sort(key=lambda v: (0, v) if isinstance(v, (int, float)) and not isinstance(v, bool)
             else (1, v) if isinstance(v, str) else (2, 0))
    return out


# interpreter builtins (evaluator.rs:470-793) — the imperative fn-body
# twin of functions/__init__.py's Column builtins. Non-mutating: push/pop/
# set return modified COPIES like the reference's cloned Values.
_PY_FNS = {
    "abs": abs, "sqrt": _math.sqrt, "floor": _math.floor, "ceil": _math.ceil,
    "round": round, "exp": _math.exp, "log": _math.log, "log10": _math.log10,
    "pow": pow, "sin": _math.sin, "cos": _math.cos, "tan": _math.tan,
    "lower": lambda s: s.lower(), "upper": lambda s: s.upper(),
    "lowercase": lambda s: s.lower(), "uppercase": lambda s: s.upper(),
    "trim": lambda s: s.strip(), "len": len,
    "contains": lambda s, x: x in s,
    "starts_with": lambda s, x: s.startswith(x),
    "ends_with": lambda s, x: s.endswith(x),
    "min": min, "max": max, "concat": lambda *a: "".join(str(x) for x in a),
    "to_int": int, "to_float": float, "to_str": str, "to_bool": bool,
    "to_string": _vpl_display,
    "avg": lambda xs: (lambda ns: sum(ns) / len(ns) if ns else 0.0)(
        [x for x in xs if isinstance(x, (int, float)) and not isinstance(x, bool)]
    ),
    "first": lambda xs: xs[0] if isinstance(xs, list) and xs else None,
    "last": lambda xs: xs[-1] if isinstance(xs, list) and xs else None,
    "push": lambda xs, v: list(xs) + [v],
    "pop": lambda xs: list(xs[:-1]) if xs else None,
    "reverse": lambda x: x[::-1],
    "sort": _vpl_sort,
    "keys": lambda m: list(m.keys()),
    "values": lambda m: list(m.values()),
    "get": lambda o, k: (o[k] if (isinstance(o, list) and isinstance(k, int)
                                  and 0 <= k < len(o)) or (isinstance(o, dict) and k in o)
                         else None),
    "set": lambda o, k, v: ({**o, k: v} if isinstance(o, dict)
                            else [v if i == k else x for i, x in enumerate(o)]),
    "type_of": _vpl_type_of,
    "is_int": lambda v: isinstance(v, int) and not isinstance(v, bool),
    "is_float": lambda v: isinstance(v, float),
    "is_string": lambda v: isinstance(v, str),
    "is_bool": lambda v: isinstance(v, bool),
    "is_array": lambda v: isinstance(v, list),
    "is_map": lambda v: isinstance(v, dict),
    "is_null": lambda v: v is None,
    # string/collection builtins the interpreter lacked until the
    # evaluator_coverage_tests port (r8); semantics per evaluator.rs
    "split": lambda s, sep: s.split(sep),
    "join": lambda xs, sep: sep.join(
        x if isinstance(x, str) else _vpl_display(x) for x in xs
    ),
    "substring": lambda s, a, b=None: _vpl_substring(s, a, b),
    "replace": lambda s, old, new: s.replace(old, new),
    "range": lambda *a: list(range(*[int(x) for x in a])),
    "unique": lambda xs: list(dict.fromkeys(xs)),
    "zip": lambda a, b: [[x, y] for x, y in zip(a, b)],
    "clamp": lambda v, lo, hi: lo if v < lo else (hi if v > hi else v),
    "coalesce": lambda *a: next((x for x in a if x is not None), None),
    "if_null": lambda v, d: d if v is None else v,
}

def _is_i(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def vpl_div(a, b):
    """BinOp::Div (value arithmetic, evaluator.rs:1056-1066): Int/Int is
    Rust integer division (truncating toward zero, unlike Python's floor);
    any division by zero is null, not an error."""
    if b == 0 or a is None or b is None:
        return None
    if _is_i(a) and _is_i(b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q
    return a / b


def vpl_mod(a, b):
    """BinOp::Mod (evaluator.rs:1093-1103): Rust % = truncated remainder
    (sign of the dividend, like C fmod), zero divisor is null."""
    if b == 0 or a is None or b is None:
        return None
    if _is_i(a) and _is_i(b):
        # exact i64 truncated remainder — fmod goes through f64 and is
        # wrong for |operands| >= 2^53 (e.g. (2**60+7) % 10 must be 3)
        r = abs(a) % abs(b)
        return r if a >= 0 else -r
    return _math.fmod(a, b)


def vpl_pow(a, b):
    """BinOp::Pow (evaluator.rs:1104-1110): Int**Int runs through f64
    powi then truncates back to Int (so 2**-1 == 0)."""
    if a is None or b is None:
        return None
    if _is_i(a) and _is_i(b):
        try:
            return int(float(a) ** b)
        except OverflowError:
            return a ** b
    return a ** b


# element-wise table for numpy/Column-like operands (vectorized adjacency
# predicates, aggregate arithmetic) — no scalar null/zero-divisor checks
_NP_OPS = {
    "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "+": lambda a, b: a + b, "-": lambda a, b: a - b,
    "*": lambda a, b: a * b, "/": lambda a, b: a / b, "%": lambda a, b: a % b,
    "**": lambda a, b: a ** b,
}

_PY_OPS = {
    "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "+": lambda a, b: a + b, "-": lambda a, b: a - b,
    "*": lambda a, b: a * b, "/": vpl_div, "%": vpl_mod,
    "and": lambda a, b: bool(a) and bool(b), "or": lambda a, b: bool(a) or bool(b),
    "??": lambda a, b: b if a is None else a,
    "in": lambda a, b: a in b,
    "**": vpl_pow,
    "xor": lambda a, b: bool(a) != bool(b),
    "&": lambda a, b: a & b, "|": lambda a, b: a | b, "^": lambda a, b: a ^ b,
    "<<": lambda a, b: a << b, ">>": lambda a, b: a >> b,
}

# VPL type name → Spark SQL type (event decl casts)
_TYPES = {
    "int": "long", "float": "double", "str": "string", "string": "string",
    "bool": "boolean", "timestamp": "long",
}


def _spark_type(t: str | None) -> str | None:
    if t is None:
        return None
    if t.startswith("["):
        inner = _TYPES.get(t[1:-1])
        return f"array<{inner}>" if inner else None
    return _TYPES.get(t)


# ---------------------------------------------------------------------------
# program environment: fn inlining + var substitution
# ---------------------------------------------------------------------------


class ProgramEnv:
    """Declared fns / events / vars / patterns of one program."""

    def __init__(self):
        self.fns: dict[str, FnDecl] = {}
        self.vars: dict[str, object] = {}          # name -> python constant
        self.events: dict[str, EventDecl] = {}
        self.patterns: dict[str, PatternDecl] = {}
        self.configs: dict[str, dict] = {}         # `config name {...}` blocks
        self._emit_sink: list | None = None        # active .process collector
        # connector name -> dimension DataFrame (or (df, key_col)) bound by
        # the host for replay-mode `.enrich` (the reference's live
        # HTTP/SQL/Redis providers, runtime/src/enrichment/)
        self.tables: dict[str, object] = {}

    def event_fields(self, name: str) -> list[tuple[str, str]]:
        """Fields including `extends` inheritance (ast.rs:29-34)."""
        decl = self.events.get(name)
        if decl is None:
            return []
        base = self.event_fields(decl.base) if decl.base else []
        return base + decl.fields


def _map_expr(e, f):
    """Bottom-up expression rewrite."""
    if isinstance(e, Bin):
        e = Bin(e.op, _map_expr(e.left, f), _map_expr(e.right, f))
    elif isinstance(e, Un):
        e = Un(e.op, _map_expr(e.operand, f))
    elif isinstance(e, Call):
        e = Call(e.name, [_map_expr(a, f) for a in e.args])
    elif isinstance(e, If):
        e = If(_map_expr(e.cond, f), _map_expr(e.then, f), _map_expr(e.other, f))
    elif isinstance(e, ListLit):
        e = ListLit([_map_expr(x, f) for x in e.items])
    elif isinstance(e, MapLit):
        e = MapLit([(_map_expr(k, f), _map_expr(v, f)) for k, v in e.items])
    elif isinstance(e, Lambda):
        # lambda params shadow outer names: rewrite the body with the
        # params protected from substitution
        params = set(e.params)

        def guard(node):
            if isinstance(node, Ref) and len(node.parts) >= 1 and node.parts[0] in params:
                return node
            return f(node)

        return Lambda(e.params, _map_expr(e.body, guard))
    elif isinstance(e, Index):
        e = Index(_map_expr(e.obj, f), _map_expr(e.index, f))
    elif isinstance(e, Slice):
        e = Slice(
            _map_expr(e.obj, f),
            _map_expr(e.lo, f) if e.lo is not None else None,
            _map_expr(e.hi, f) if e.hi is not None else None,
        )
    elif isinstance(e, Range):
        e = Range(_map_expr(e.lo, f), _map_expr(e.hi, f), e.inclusive)
    return f(e)


@dataclass
class ImperativeCall:
    """A call to a statement-bodied fn in expression position (produced by
    `expand`, consumed by `to_column`): runs the per-row interpreter inside
    an Arrow-batched pandas UDF. This is the deliberate slow path — it
    mirrors the reference's per-event fn interpreter (evaluator.rs) for
    bodies with loops/branches that have no Catalyst form; expression
    bodies keep inlining into codegen instead."""

    fn: object  # FnDecl with list body
    args: list
    fns: dict  # fn registry snapshot for nested calls (picklable)
    consts: dict  # var/const values (already python scalars)


def expand(e, env: ProgramEnv, depth: int = 0):
    """Inline expression-bodied user functions and substitute vars/consts.

    The reference evaluates user functions per event in its interpreter
    (evaluator.rs); inlining keeps them inside Catalyst codegen instead.
    Statement-bodied fns (while/if/:=, ast.rs:38-106) can't inline — they
    become ImperativeCall markers lowered to a pandas UDF."""
    if depth > 32:
        raise ValueError("fn inlining depth exceeded (recursive function?)")

    def rewrite(node):
        if isinstance(node, Ref) and len(node.parts) == 1 and node.parts[0] in env.vars:
            return Lit(env.vars[node.parts[0]])
        if isinstance(node, Call) and node.name in env.fns:
            fn = env.fns[node.name]
            if not isinstance(fn.body, list):  # expression body → inline
                sub = {p: a for (p, _t), a in zip(fn.params, node.args)}

                def subst(n):
                    if isinstance(n, Ref) and len(n.parts) == 1 and n.parts[0] in sub:
                        return sub[n.parts[0]]
                    return n

                return expand(_map_expr(fn.body, subst), env, depth + 1)
            return ImperativeCall(fn, list(node.args), dict(env.fns), dict(env.vars))
        return node

    return _map_expr(e, rewrite)


class _SlimEnv:
    """Picklable interpreter environment shipped into pandas-UDF workers:
    just the fn registry and const values — no DataFrames, no SparkSession."""

    def __init__(self, fns: dict, consts: dict):
        self.fns = fns
        self.vars = consts
        self.events: dict = {}
        self.patterns: dict = {}
        self.configs: dict = {}
        self._emit_sink = None


def _lower_imperative_call(e: "ImperativeCall", arg_cols: list[Column]) -> Column:
    """Statement-bodied fn in expression position → Arrow-batched pandas
    UDF running the statement interpreter per row. Requires a declared
    return type (`fn f(...) -> int:`) to fix the Spark column type."""
    from pyspark.sql.functions import pandas_udf

    ret = _spark_type(e.fn.ret)
    if ret is None:
        raise ValueError(
            f"fn {e.fn.name!r} has loops/branches in its body, so it runs "
            f"interpreted and needs a declared scalar return type "
            f"(-> int/float/str/bool) to be used in expression position"
        )
    fn, fns, consts = e.fn, e.fns, e.consts
    param_names = [p for p, _t in fn.params]

    # translate to plain Python when possible (see pycompile docstring);
    # interpreter fallback keeps full construct coverage
    from varpulis_spark.vpl.pycompile import compile_fns

    compiled_all = compile_fns(fns, consts)
    compiled = compiled_all.get(fn.name) if compiled_all else None

    nullary = not param_names

    @pandas_udf(ret)
    def run(*cols):
        import pandas as pd

        # for a nullary fn the single input column is a dummy carrying
        # only the batch length (PySpark rejects 0-arg series UDFs, and
        # zip(*[]) would yield an empty result regardless of batch size)
        rows = (
            [() for _ in range(len(cols[0]))]
            if nullary
            else list(zip(*[c.tolist() for c in cols]))
        )
        out = []
        if compiled is not None:
            sink: list = []  # emits from expression position are discarded
            budget = [_MAX_INTERP_STEPS]
            for vals in rows:
                out.append(compiled(*vals, sink, budget))
        else:
            env = _SlimEnv(fns, consts)
            for vals in rows:
                scope = dict(env.vars)
                scope.update(zip(param_names, vals))
                try:
                    _exec_stmts(fn.body, scope, env, [])
                    out.append(None)  # fell off the end without `return`
                except _FnReturn as r:
                    out.append(r.value)
        return pd.Series(out)

    return run(*(arg_cols if arg_cols else [F.lit(0)]))


def _const_eval(e, env: ProgramEnv):
    """Evaluate a constant expression (var/const initializers)."""
    return _eval_expr(expand(e, env), {}, env)


# ---------------------------------------------------------------------------
# backends
# ---------------------------------------------------------------------------


def to_column(e, resolver=None) -> Column:
    """Lower to a Spark Column. `resolver(Ref) -> Column | None` overrides
    reference resolution (join sources, pattern emit post-projection).

    Lambdas appear only as arguments to the array higher-order methods
    (`.filter(x => ...)`, `.map(...)`, evaluator.rs:1376-1545); they lower
    to Spark's native higher-order functions (F.filter/F.transform/...),
    with the lambda parameter bound in a lexical scope — everything stays
    in Catalyst, no Python UDF."""

    def rec(e, scope: dict | None = None):
        scope = scope or {}
        if isinstance(e, Lit):
            return F.lit(e.value)
        if isinstance(e, Dur):
            from varpulis_spark.functions import duration_ns

            return F.lit(duration_ns(e.text))
        if isinstance(e, Ref):
            if e.parts[0] in scope:
                c = scope[e.parts[0]]
                for part in e.parts[1:]:
                    c = c[part]
                return c
            if resolver is not None:
                c = resolver(e)
                if c is not None:
                    return c
            return F.col(".".join(e.parts))
        if isinstance(e, Un):
            c = rec(e.operand, scope)
            if e.op == "not":
                return ~c
            if e.op == "~":
                return F.bitwise_not(c)
            return -c
        if isinstance(e, If):
            return F.when(rec(e.cond, scope), rec(e.then, scope)).otherwise(
                rec(e.other, scope)
            )
        if isinstance(e, ListLit):
            return F.array(*[rec(x, scope) for x in e.items])
        if isinstance(e, MapLit):
            pairs = []
            for k, v in e.items:
                pairs.append(rec(k, scope))
                pairs.append(rec(v, scope))
            return F.create_map(*pairs)
        if isinstance(e, Index):
            # 0-based indexing (reference arrays); F.get is 0-based and
            # null-safe; also serves map lookup via getItem
            obj = rec(e.obj, scope)
            if isinstance(e.index, Lit) and isinstance(e.index.value, str):
                return obj.getItem(e.index.value)
            return F.get(obj, rec(e.index, scope))
        if isinstance(e, Slice):
            obj = rec(e.obj, scope)
            lo = rec(e.lo, scope) if e.lo is not None else F.lit(0)
            length = (
                (rec(e.hi, scope) - lo) if e.hi is not None else (F.size(obj) - lo)
            )
            return F.slice(obj, lo + F.lit(1), F.greatest(length, F.lit(0)))
        if isinstance(e, Range):
            lo = rec(e.lo, scope)
            hi = rec(e.hi, scope)
            top = hi if e.inclusive else hi - F.lit(1)
            # guard the empty range: Spark's sequence(lo, hi) defaults to
            # step -1 when lo > hi, so `a..a` would yield a descending
            # 2-element array instead of [] (the Python _eval_expr yields [])
            empty = F.filter(F.array(lo), lambda _x: F.lit(False))
            return F.when(lo <= top, F.sequence(lo, top)).otherwise(empty)
        if isinstance(e, Bin):
            if e.op == "in":
                if isinstance(e.right, ListLit) and all(
                    isinstance(x, Lit) for x in e.right.items
                ):
                    return rec(e.left, scope).isin([x.value for x in e.right.items])
                return F.array_contains(rec(e.right, scope), rec(e.left, scope))
            if e.op == "??":
                return F.coalesce(rec(e.left, scope), rec(e.right, scope))
            left, right = rec(e.left, scope), rec(e.right, scope)
            if e.op == "and":
                return left & right
            if e.op == "or":
                return left | right
            if e.op == "xor":
                return left.cast("boolean") != right.cast("boolean")
            if e.op == "**":
                return F.pow(left, right)
            if e.op == "&":
                return left.bitwiseAND(right)
            if e.op == "|":
                return left.bitwiseOR(right)
            if e.op == "^":
                return left.bitwiseXOR(right)
            if e.op in ("<<", ">>"):
                if not isinstance(e.right, Lit):
                    raise ValueError("shift amount must be a literal")
                bits = int(e.right.value)
                fn = F.shiftleft if e.op == "<<" else F.shiftright
                return fn(left.cast("long"), bits)
            if e.op == "+":
                # reference Add concatenates Str+Str (engine/evaluator.rs:
                # 1027-1041); Spark's numeric `+` on strings casts-to-double
                # and yields null (r10 port-caught bug). Statically stringy
                # operands (literals, string fns, chained concats) lower to
                # concat; column-only string+string without a static hint
                # still needs one side annotated (documented divergence).
                if _stringy(e.left) or _stringy(e.right):
                    return F.concat(left, right)
                return left + right
            if e.op == "-":
                return left - right
            if e.op == "*":
                return left * right
            if e.op == "/":
                return left / right
            if e.op == "%":
                return left % right
            return {
                "==": left == right, "!=": left != right, "<": left < right,
                "<=": left <= right, ">": left > right, ">=": left >= right,
            }[e.op]
        if isinstance(e, ImperativeCall):
            return _lower_imperative_call(e, [rec(a, scope) for a in e.args])
        if isinstance(e, Call):
            hof = _lower_array_method(e, rec, scope)
            if hof is not None:
                return hof
            args = [rec(a, scope) for a in e.args]
            if e.name in _SCALAR_MULTI and len(args) >= 2:
                return _SCALAR_MULTI[e.name](*args)
            if e.name in _SCALAR_FNS:
                # round(x, 2) / pow(x, 2): non-column literal tail args
                fn = _SCALAR_FNS[e.name]
                if e.name == "round" and len(e.args) == 2 and isinstance(e.args[1], Lit):
                    return F.round(args[0], int(e.args[1].value))
                return fn(*args)
        raise ValueError(f"cannot lower to Column: {e}")

    return rec(e)


def _lower_array_method(e: Call, rec, scope: dict) -> Column | None:
    """Array higher-order methods (evaluator.rs:1376-1545) → Spark HOFs.
    Method-call syntax parses as Call(name, [receiver, extra...])."""
    name, args = e.name, e.args
    lam = args[1] if len(args) > 1 and isinstance(args[1], Lambda) else None

    def bind(*cols):
        inner = dict(scope)
        for p, c in zip(lam.params, cols):
            inner[p] = c
        return rec(lam.body, inner)

    # Spark HOFs introspect the callback arity — build fixed-arity shims
    lam_fn = None
    if lam is not None:
        if len(lam.params) >= 2:
            def lam_fn(a, b):  # noqa: ANN001
                return bind(a, b)
        else:
            def lam_fn(a):  # noqa: ANN001
                return bind(a)

    if name == "filter" and lam is not None:
        if len(lam.params) >= 2:
            # two-param lambda destructures array PAIRS (evaluator.rs
            # :1408-1420, `.sliding_pairs().filter((a, b) => ...)`) — not
            # Spark's (element, index) two-arg filter signature
            return F.filter(
                rec(args[0], scope),
                lambda el: bind(el.getItem(0), el.getItem(1)),
            )
        return F.filter(rec(args[0], scope), lam_fn)
    if name == "map" and lam is not None:
        if len(lam.params) >= 2:
            # multi-param lambda destructures array pairs —
            # `.sliding_pairs().map((a, b) => ...)` (evaluator.rs:1408-1420)
            return F.transform(
                rec(args[0], scope),
                lambda el: bind(el.getItem(0), el.getItem(1)),
            )
        return F.transform(rec(args[0], scope), lam_fn)
    if name == "flatten" and len(args) == 1:
        return F.flatten(rec(args[0], scope))
    if name == "size" and len(args) == 1:
        return F.size(rec(args[0], scope))
    if name in ("len", "count") and len(args) == 1 and _looks_arrayish(args[0]):
        return F.size(rec(args[0], scope))
    if name == "sum" and len(args) == 1 and _looks_arrayish(args[0]):
        return F.aggregate(
            rec(args[0], scope),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )
    if name == "avg" and len(args) == 1 and _looks_arrayish(args[0]):
        # avg over a capture array → Float; EMPTY array → 0.0
        # (evaluator.rs fn_avg / evaluator_pattern_tests fn_avg_empty)
        arr = rec(args[0], scope)
        total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x.cast("double"))
        return F.when(F.size(arr) > 0, total / F.size(arr)).otherwise(F.lit(0.0))
    if name in ("min", "max") and len(args) == 1 and _looks_arrayish(args[0]):
        # array min/max → Float; EMPTY → null (the reference's INFINITY
        # fold yields None, evaluator_pattern_tests fn_min_empty)
        arr = rec(args[0], scope)
        agg = F.array_min(arr) if name == "min" else F.array_max(arr)
        return agg.cast("double")
    if name == "variance" and len(args) == 1 and _looks_arrayish(args[0]):
        # POPULATION variance ([2,4,4,4,5,5,7,9] → 4.0); empty → 0.0
        arr = rec(args[0], scope)
        n = F.size(arr)
        total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x.cast("double"))
        mean = total / n
        ss = F.aggregate(
            arr, F.lit(0.0),
            lambda a, x: a + (x.cast("double") - mean) * (x.cast("double") - mean),
        )
        return F.when(n > 0, ss / n).otherwise(F.lit(0.0))
    if name in ("first", "last") and len(args) == 1 and _looks_arrayish(args[0]):
        arr = rec(args[0], scope)
        return F.element_at(arr, 1 if name == "first" else -1)
    if name == "sliding_pairs" and len(args) == 1:
        # [a,b,c] -> [[a,b],[b,c]] (evaluator.rs sliding_pairs)
        arr = rec(args[0], scope)
        n = F.size(arr)
        return F.zip_with(
            F.slice(arr, F.lit(1), F.greatest(n - F.lit(1), F.lit(0))),
            F.slice(arr, F.lit(2), F.greatest(n - F.lit(1), F.lit(0))),
            lambda x, y: F.array(x, y),
        )
    return None


def _looks_arrayish(node) -> bool:
    """Heuristic: method receivers that are array-typed expressions —
    list literals, slices, ranges, or HOF results. Plain refs keep the
    legacy scalar lowering (`len(s)` = string length)."""
    return isinstance(node, (ListLit, Slice, Range)) or (
        isinstance(node, Call)
        and node.name in ("filter", "map", "flatten", "split", "sliding_pairs")
    )


def to_python(e, aliases: set[str]):
    """(event, bindings) predicate closure for the NFA path."""
    if isinstance(e, Lit):
        v = e.value
        return lambda ev, b: v
    if isinstance(e, Dur):
        from varpulis_spark.functions import duration_ns

        v = duration_ns(e.text)
        return lambda ev, b: v
    if isinstance(e, Ref):
        if len(e.parts) == 2 and e.parts[0] in aliases:
            a, f = e.parts
            return lambda ev, b: (
                b[a][-1].get(f) if isinstance(b[a], list) else b[a].get(f)
            )
        f = ".".join(e.parts)
        return lambda ev, b: ev.get(f)
    if isinstance(e, Un):
        inner = to_python(e.operand, aliases)
        if e.op == "not":
            return lambda ev, b: not inner(ev, b)
        return lambda ev, b: -inner(ev, b)
    if isinstance(e, If):
        cf = to_python(e.cond, aliases)
        tf = to_python(e.then, aliases)
        of = to_python(e.other, aliases)
        return lambda ev, b: tf(ev, b) if cf(ev, b) else of(ev, b)
    if isinstance(e, ListLit):
        fs = [to_python(x, aliases) for x in e.items]
        return lambda ev, b: [f(ev, b) for f in fs]
    if isinstance(e, Bin):
        lf, rf = to_python(e.left, aliases), to_python(e.right, aliases)
        op = _PY_OPS[e.op]
        return lambda ev, b: op(lf(ev, b), rf(ev, b))
    if isinstance(e, Call) and e.name in _PY_FNS:
        fs = [to_python(a, aliases) for a in e.args]
        fn = _PY_FNS[e.name]
        return lambda ev, b: fn(*[f(ev, b) for f in fs])
    raise ValueError(f"cannot lower to python: {e}")


def to_sql(e, self_alias: str, aliases: set[str]) -> str:
    if isinstance(e, Lit):
        if e.value is None:
            return "NULL"
        if isinstance(e.value, bool):
            return "TRUE" if e.value else "FALSE"
        if isinstance(e.value, str):
            return "'" + e.value.replace("'", "''") + "'"
        return repr(e.value)
    if isinstance(e, Dur):
        from varpulis_spark.functions import duration_ns

        return repr(duration_ns(e.text))
    if isinstance(e, Ref):
        if len(e.parts) == 2 and e.parts[0] in aliases:
            return f"{e.parts[0]}.{e.parts[1]}"
        return f"{self_alias}.{'.'.join(e.parts)}"
    if isinstance(e, Un):
        inner = to_sql(e.operand, self_alias, aliases)
        return f"(NOT {inner})" if e.op == "not" else f"(-{inner})"
    if isinstance(e, If):
        return (
            f"(CASE WHEN {to_sql(e.cond, self_alias, aliases)} "
            f"THEN {to_sql(e.then, self_alias, aliases)} "
            f"ELSE {to_sql(e.other, self_alias, aliases)} END)"
        )
    if isinstance(e, ListLit):
        return "array(" + ", ".join(to_sql(x, self_alias, aliases) for x in e.items) + ")"
    if isinstance(e, Bin):
        if e.op == "in" and isinstance(e.right, ListLit):
            items = ", ".join(to_sql(x, self_alias, aliases) for x in e.right.items)
            return f"({to_sql(e.left, self_alias, aliases)} IN ({items}))"
        if e.op == "??":
            return (
                f"COALESCE({to_sql(e.left, self_alias, aliases)}, "
                f"{to_sql(e.right, self_alias, aliases)})"
            )
        if e.op == "+" and (_stringy(e.left) or _stringy(e.right)):
            # Str+Str concatenates in the reference (evaluator.rs:1027-1041)
            return (
                f"concat({to_sql(e.left, self_alias, aliases)}, "
                f"{to_sql(e.right, self_alias, aliases)})"
            )
        op = {"==": "=", "and": "AND", "or": "OR"}.get(e.op, e.op)
        return f"({to_sql(e.left, self_alias, aliases)} {op} {to_sql(e.right, self_alias, aliases)})"
    if isinstance(e, Call) and e.name == "substring" and len(e.args) >= 2:
        # VPL substring is a 0-based [start, end) char slice with null on
        # out-of-range (evaluator.rs:738-757) — not SQL's (pos, len)
        s = to_sql(e.args[0], self_alias, aliases)
        a = to_sql(e.args[1], self_alias, aliases)
        b = (
            to_sql(e.args[2], self_alias, aliases)
            if len(e.args) >= 3
            else f"octet_length({s})"
        )
        return (
            f"(CASE WHEN ({a}) >= 0 AND ({b}) >= 0 AND ({a}) <= ({b}) "
            f"AND ({b}) <= length({s}) "
            f"THEN substring({s}, ({a}) + 1, ({b}) - ({a})) END)"
        )
    if isinstance(e, Call) and e.name in _SQL_FNS:
        args = ", ".join(to_sql(a, self_alias, aliases) for a in e.args)
        return f"{_SQL_FNS[e.name]}({args})"
    raise ValueError(f"cannot lower to SQL: {e}")


# ---------------------------------------------------------------------------
# imperative fn interpreter (.process bodies, emit_process.vpl)
# ---------------------------------------------------------------------------


def _eval_expr(e, scope: dict, env: ProgramEnv):
    if isinstance(e, Lit):
        return e.value
    if isinstance(e, Dur):
        from varpulis_spark.functions import duration_ns

        return duration_ns(e.text)
    if isinstance(e, Ref):
        name = e.parts[-1]
        return scope.get(e.parts[0] if len(e.parts) == 1 else name)
    if isinstance(e, Un):
        v = _eval_expr(e.operand, scope, env)
        return (not v) if e.op == "not" else -v
    if isinstance(e, If):
        return (
            _eval_expr(e.then, scope, env)
            if _eval_expr(e.cond, scope, env)
            else _eval_expr(e.other, scope, env)
        )
    if isinstance(e, ListLit):
        return [_eval_expr(x, scope, env) for x in e.items]
    if isinstance(e, MapLit):
        return {
            _eval_expr(k, scope, env): _eval_expr(v, scope, env) for k, v in e.items
        }
    if isinstance(e, Index):
        obj = _eval_expr(e.obj, scope, env)
        idx = _eval_expr(e.index, scope, env)
        try:
            return obj[idx]
        except (IndexError, KeyError):
            return None
    if isinstance(e, Slice):
        obj = _eval_expr(e.obj, scope, env)
        lo = int(_eval_expr(e.lo, scope, env)) if e.lo is not None else None
        hi = int(_eval_expr(e.hi, scope, env)) if e.hi is not None else None
        return obj[lo:hi]
    if isinstance(e, Range):
        lo = int(_eval_expr(e.lo, scope, env))
        hi = int(_eval_expr(e.hi, scope, env))
        return list(range(lo, hi + 1 if e.inclusive else hi))
    if isinstance(e, Bin):
        return _PY_OPS[e.op](_eval_expr(e.left, scope, env), _eval_expr(e.right, scope, env))
    if isinstance(e, Call):
        # array higher-order methods over python values (evaluator.rs:1376+)
        if e.args and e.name in ("filter", "map", "flatten", "sum", "len", "count",
                                 "size", "sliding_pairs"):
            recv = _eval_expr(e.args[0], scope, env)
            if isinstance(recv, list):
                lam = e.args[1] if len(e.args) > 1 and isinstance(e.args[1], Lambda) else None

                def apply(item):
                    inner = dict(scope)
                    if len(lam.params) >= 2 and isinstance(item, (list, tuple)):
                        for p, v in zip(lam.params, item):
                            inner[p] = v
                    else:
                        inner[lam.params[0]] = item
                    return _eval_expr(lam.body, inner, env)

                if e.name == "filter" and lam is not None:
                    return [x for x in recv if apply(x)]
                if e.name == "map" and lam is not None:
                    return [apply(x) for x in recv]
                if e.name == "flatten":
                    return [
                        y for x in recv for y in (x if isinstance(x, list) else [x])
                    ]
                if e.name == "sum":
                    return sum(recv)
                if e.name in ("len", "count", "size"):
                    return len(recv)
                if e.name == "sliding_pairs":
                    return [[a, b] for a, b in zip(recv, recv[1:])]
        if e.name in env.fns:
            fn = env.fns[e.name]
            if isinstance(fn.body, list):  # imperative body (mandelbrot.vpl)
                return _call_imperative_fn(fn, e.args, scope, env)
            inner = {p: _eval_expr(a, scope, env) for (p, _t), a in zip(fn.params, e.args)}
            return _eval_expr(fn.body, inner, env)
        if e.name in _PY_FNS:
            return _PY_FNS[e.name](*[_eval_expr(a, scope, env) for a in e.args])
    raise ValueError(f"cannot evaluate: {e}")


class _FnReturn(Exception):
    """`return` unwinding inside an imperative fn body."""

    def __init__(self, value):
        self.value = value


class _LoopBreak(Exception):
    pass


class _LoopContinue(Exception):
    pass


# safety bound on interpreted statement executions per entry call — a
# `while` body with a never-advancing condition must error, not hang the
# executor (the reference has no such loop cap; ours exists because fn
# bodies run in Python workers, not compiled Rust)
_MAX_INTERP_STEPS = 50_000_000


def _exec_stmts(stmts: list, scope: dict, env: ProgramEnv, out: list,
                budget: list | None = None):
    """Run an imperative fn body (Stmt, ast.rs:38-106); emitted events
    append to `out` as (event_type, fields) tuples (emit collector,
    evaluator.rs:70-100). Control flow: `return` raises _FnReturn (caught
    by the fn-call site), break/continue unwind to the nearest loop."""
    if budget is None:
        # inherit the caller's budget when invoked through a nested fn call
        # (_call_imperative_fn) so one box bounds the whole call tree — a
        # fresh 50M box per callee would let a budget-capped probe of a
        # heavy body (mandelbrot.vpl) run for minutes
        budget = getattr(env, "_active_budget", None) or [_MAX_INTERP_STEPS]
    prev_budget = getattr(env, "_active_budget", None)
    env._active_budget = budget

    def body_iter(body):
        """One loop iteration; returns False on `break`."""
        try:
            _exec_stmts(body, scope, env, out, budget)
        except _LoopContinue:
            pass
        except _LoopBreak:
            return False
        return True

    try:
        _exec_stmts_inner(stmts, scope, env, out, budget, body_iter)
    finally:
        env._active_budget = prev_budget


def _exec_stmts_inner(stmts: list, scope: dict, env: ProgramEnv, out: list,
                      budget: list, body_iter):
    for st in stmts:
        budget[0] -= 1
        if budget[0] <= 0:
            raise ValueError(
                "fn body exceeded the interpreter step budget "
                f"({_MAX_INTERP_STEPS}) — non-terminating while loop?"
            )
        if isinstance(st, ForStmt):
            if st.iter_expr is not None:
                items = _eval_expr(st.iter_expr, scope, env) or []
            else:
                lo = int(_eval_expr(st.start, scope, env))
                hi = int(_eval_expr(st.stop, scope, env))
                items = range(lo, hi + 1 if st.inclusive else hi)
            for v in items:
                scope[st.var] = v
                if not body_iter(st.body):
                    break
        elif isinstance(st, WhileStmt):
            while _eval_expr(st.cond, scope, env):
                budget[0] -= 1
                if budget[0] <= 0:
                    raise ValueError(
                        "fn body exceeded the interpreter step budget "
                        f"({_MAX_INTERP_STEPS}) — non-terminating while loop?"
                    )
                if not body_iter(st.body):
                    break
        elif isinstance(st, IfStmt):
            for cond, body in st.branches:
                if _eval_expr(cond, scope, env):
                    _exec_stmts(body, scope, env, out, budget)
                    break
            else:
                if st.orelse is not None:
                    _exec_stmts(st.orelse, scope, env, out, budget)
        elif isinstance(st, (LetStmt, AssignStmt)):
            scope[st.name] = _eval_expr(st.value, scope, env)
        elif isinstance(st, ReturnStmt):
            raise _FnReturn(
                _eval_expr(st.value, scope, env) if st.value is not None else None
            )
        elif isinstance(st, BreakStmt):
            raise _LoopBreak()
        elif isinstance(st, ContinueStmt):
            raise _LoopContinue()
        elif isinstance(st, EmitStmt):
            out.append((st.event_type, {k: _eval_expr(v, scope, env) for k, v in st.fields.items()}))
        elif isinstance(st, ExprStmt):
            _eval_expr(st.value, scope, env)
        else:
            raise ValueError(f"unsupported statement: {st}")


def _call_imperative_fn(fn, args: list, scope: dict, env: ProgramEnv):
    """Invoke a statement-bodied fn from an expression (mandelbrot.vpl:
    `let iters = mandelbrot(cx, cy, max_iter)`). Emits inside the callee
    land in the active collector (env._emit_sink) when one is installed by
    the .process driver; the return value is the _FnReturn payload."""
    inner = {p: _eval_expr(a, scope, env) for (p, _t), a in zip(fn.params, args)}
    sink = getattr(env, "_emit_sink", None)
    try:
        _exec_stmts(fn.body, inner, env, sink if sink is not None else [])
    except _FnReturn as r:
        return r.value
    return None


def _compile_process(op: OpCall, stream: Stream, env: ProgramEnv) -> Stream:
    """`.process(gen_fn(args))` — per-event imperative emits via mapInPandas
    (RuntimeOp::Process engine/types.rs:203; sequence of emits per input
    event). Literal args are evaluated once; event fields are in scope."""
    call = op.args[0]
    if not (isinstance(call, Call) and call.name in env.fns):
        raise ValueError(".process expects a declared fn call")
    fn = env.fns[call.name]
    if not isinstance(fn.body, list):
        raise ValueError(".process expects an imperative fn (for/emit body)")
    arg_exprs = list(call.args)
    params = [p for p, _t in fn.params]

    # static shape probe: run once with the event fields seeded as TYPED
    # sentinels from the input schema (ADVICE r2: an empty scope resolved
    # field refs to None, crashing int(None) range bounds at compile time
    # and degrading inferred types to string)
    # numeric sentinel is 1, not 0: a 0 bound makes `for i in 0..n` probe
    # zero iterations (no emits → empty schema) and 0 divisors crash
    _SENTINELS = {
        "bigint": 1, "int": 1, "smallint": 1, "tinyint": 1, "long": 1,
        "double": 1.0, "float": 1.0, "boolean": False,
    }
    sentinel_scope = {
        c: _SENTINELS.get(t, "") for c, t in stream.df.dtypes
    }
    probe_scope = {**env.vars, **sentinel_scope}
    probe_scope.update(
        {p: _eval_expr(a, dict(sentinel_scope), env) for p, a in zip(params, arg_exprs)}
    )
    # fast path: translate the body (and every fn it can call) to plain
    # Python once, driver-side — the reference runs these bodies as
    # compiled Rust (engine/types.rs:203), and the AST-walking interpreter
    # is ~100x slower on arithmetic loops like mandelbrot.vpl's
    from varpulis_spark.vpl.pycompile import compile_body

    compiled = compile_body(fn.body, env.fns, env.vars)

    probe: list = []
    try:
        # budget-capped: a heavy body (mandelbrot.vpl computes a 62.5k-pixel
        # tile per call) probes only until the first emits reveal the shape
        if compiled is not None:
            compiled(dict(probe_scope), probe, [200_000])
        else:
            env._emit_sink = probe
            _exec_stmts(fn.body, dict(probe_scope), env, probe, budget=[200_000])
    except _FnReturn:
        pass
    except Exception:
        pass  # partial emits (if any) still carry the output shape
    finally:
        env._emit_sink = None
    declared: dict[str, str] = {}
    probe_types = {e for e, _f in probe} or set(env.events)
    for etype in probe_types:
        for fname, ftype in env.event_fields(etype):
            st = _spark_type(ftype)
            if st:
                declared[fname] = st
    def _infer(v) -> str:
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return "long"
        if isinstance(v, float):
            return "double"
        if isinstance(v, list):
            # element-typed arrays (evaluator emits Value::Array); mixed
            # or empty arrays carry stringified elements
            elem = {_infer(x) for x in v if not isinstance(x, (list, dict))}
            if len(elem) == 1:
                return f"array<{elem.pop()}>"
            if elem == {"long", "double"}:
                return "array<double>"
            return "array<string>"
        return "string"  # str, dict (stringified), None

    out_fields: dict[str, str] = {}
    for _etype, fields in probe:
        for k, v in fields.items():
            if k not in out_fields:
                out_fields[k] = declared.get(k) or _infer(v)
    if not probe:
        # probe crashed: schema from declared event fields only
        out_fields = dict(declared)
    ts_col = stream.ts_col
    schema = ", ".join(
        ["event_type string"] + [f"{k} {t}" for k, t in out_fields.items()] + [f"{ts_col} timestamp"]
    )
    fn_body = fn.body
    col_names = list(out_fields)
    col_types = [out_fields[c] for c in col_names]

    def _coerce(v, t: str):
        # keep Arrow happy when an emitted value's runtime type drifts
        # from the probed column type (e.g. a dict lands in a string
        # column, or a list of ints in array<string>)
        if v is None:
            return None
        if t == "string" and not isinstance(v, str):
            return _vpl_display(v)
        if t.startswith("array<") and isinstance(v, list):
            et = t[6:-1]
            return [_coerce(x, et) for x in v]
        if t == "double" and isinstance(v, int) and not isinstance(v, bool):
            return float(v)
        return v

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                # globals are READABLE in fn bodies (their declared values);
                # event fields shadow them. Writes stay local to the
                # invocation — a distributed engine cannot sequence global
                # mutation across executors (documented divergence from the
                # single-process reference).
                scope = dict(env.vars)
                scope.update(zip(pdf.columns, rec))
                scope.update({p: _eval_expr(a, scope, env) for p, a in zip(params, arg_exprs)})
                emitted: list = []
                if compiled is not None:
                    compiled(scope, emitted, [_MAX_INTERP_STEPS])
                else:
                    env._emit_sink = emitted
                    try:
                        _exec_stmts(fn_body, scope, env, emitted)
                    except _FnReturn:
                        pass  # top-level return ends the body early
                    finally:
                        env._emit_sink = None
                for etype, fields in emitted:
                    rows.append(
                        [etype]
                        + [_coerce(fields.get(c), t) for c, t in zip(col_names, col_types)]
                        + [scope.get(ts_col)]
                    )
            yield pd.DataFrame(rows, columns=["event_type"] + col_names + [ts_col])

    return stream.process(gen, schema)


# ---------------------------------------------------------------------------
# pattern compilation
# ---------------------------------------------------------------------------


def _and_exprs(a, b):
    return b if a is None else (a if b is None else Bin("and", a, b))


def _auto_partition_spec(
    steps: list[PatternStep], neg_steps: list[PatternStep] | None = None
) -> "str | tuple[str, dict[str, str]] | None":
    """Correlation-key inference (SASEXT `partition by`). Returns

    - a field name when every later step requires `f == first.f` (same
      field name both sides) → partition on the plain column;
    - ``(first_field, {event_type: field})`` when steps correlate through
      CROSS-field equalities (e.g. `NetworkConnection.source_host ==
      first_fail.target_host`, cxo_cyber_threat.vpl Pattern 1) → the caller
      keys the stream on a per-event-type CASE expression, turning one NFA
      universe into per-key parallelism. Sound because every match REQUIRES
      each constituent's keyed field to equal `first.<first_field>`, so
      co-partitioning by that value can never separate a match's events —
      and the NFA still evaluates the full predicates inside each key.
    - None when any step or negation lacks a required correlation (the
      unpartitioned NFA is then the only sound lowering).

    Global negations (check_global_negations, sase.rs:3000-3034) veto runs
    in ALL partitions regardless of the negated event's own key — so
    auto-partitioning is only sound when every negation predicate ITSELF
    correlates on the same first-step field (then a negated event with a
    different key value could never veto anyway)."""
    if len(steps) < 2:
        return None
    first = steps[0]
    first_alias = first.alias
    if not first_alias:
        return None

    def required_pairs(expr) -> set[tuple[str, str]]:
        # Only equalities REQUIRED by the predicate count: walk pure `and`
        # conjunctions, stop at `or`/`not` subtrees — an equality inside a
        # disjunctive branch is optional, and partitioning on it would drop
        # matches from the other branch. Pairs are (event_field, first_field)
        # from `event_field == first_alias.first_field`.
        pairs: set[tuple[str, str]] = set()

        def walk(e):
            if isinstance(e, Bin):
                if e.op == "==":
                    for x, y in ((e.left, e.right), (e.right, e.left)):
                        if (
                            isinstance(x, Ref) and len(x.parts) == 1
                            and isinstance(y, Ref) and len(y.parts) == 2
                            and y.parts[0] == first_alias
                        ):
                            pairs.add((x.parts[0], y.parts[1]))
                elif e.op == "and":
                    walk(e.left)
                    walk(e.right)
                # `or` / `not` / arithmetic: stop — nothing below is required

        walk(expr)
        return pairs

    step_pairs: list[tuple[PatternStep, set[tuple[str, str]]]] = []
    for s in list(steps[1:]) + list(neg_steps or []):
        if s.where is None:
            return None
        pairs = required_pairs(s.where)
        if not pairs:
            return None
        step_pairs.append((s, pairs))

    # first-side fields offered by EVERY later step (and every negation)
    candidates = set.intersection(*[{y for _x, y in pairs} for _s, pairs in step_pairs])

    # same-field case first: `f == first.f` everywhere → plain column key
    # (works even when steps carry no event_type, e.g. single-stream-ref
    # patterns whose types the compiler nulls out)
    for f in sorted(candidates):
        if all((f, f) in pairs for _s, pairs in step_pairs):
            return f

    # cross-field case needs a per-event-type CASE key, so every step
    # (including the first) must name a concrete event type
    if not getattr(first, "event_type", None) or any(
        not getattr(s, "event_type", None) for s, _p in step_pairs
    ):
        return None
    for f in sorted(candidates):
        # one key field per event type (a type appearing in several steps
        # must correlate through the same field — otherwise no single CASE
        # expression keys it)
        per_type: dict[str, set[str]] = {first.event_type: {f}}
        ok = True
        for s, pairs in step_pairs:
            fields = {x for x, y in pairs if y == f}
            cur = per_type.get(s.event_type)
            per_type[s.event_type] = fields if cur is None else (cur & fields)
            if not per_type[s.event_type]:
                ok = False
                break
        if not ok:
            continue
        by_type = {t: (f if f in v else sorted(v)[0]) for t, v in per_type.items()}
        return (f, by_type)
    return None


def _auto_partition_key(
    steps: list[PatternStep], neg_steps: list[PatternStep] | None = None
) -> str | None:
    """Single-column form of `_auto_partition_spec` (callers that key state
    on a plain field, e.g. forecast models)."""
    spec = _auto_partition_spec(steps, neg_steps=neg_steps)
    return spec if isinstance(spec, str) else None


def _classify_emit(kwargs: dict, aliases: set[str], kleene_aliases: set[str],
                   last_alias: str):
    """Split pattern-emit kwargs into direct (alias, field) projections,
    literals, and post-computed expressions over hidden projection columns.

    Complex expressions (fn calls, arithmetic) can't run inside the NFA emit;
    instead every alias.field they touch is emitted as a hidden column and
    the expression is computed as a Catalyst projection on the match frame —
    the reference evaluates emit expressions per match in its interpreter
    (evaluator.rs), here they stay JVM-side."""
    emit: dict[str, tuple[str, str]] = {}
    lits: dict[str, object] = {}
    post: list[tuple[str, object]] = []  # (out_col, expr over hidden refs)
    hidden: dict[tuple[str, str], str] = {}

    def qualify(v):
        """Rewrite refs to hidden column names; register hidden emits."""

        def rw(node):
            if isinstance(node, Ref):
                if len(node.parts) == 2 and node.parts[0] in aliases:
                    key = (node.parts[0], node.parts[1])
                elif len(node.parts) == 1:
                    key = (last_alias, node.parts[0])
                else:
                    return node
                name = hidden.setdefault(key, f"__h_{key[0]}_{key[1]}")
                return Ref([name])
            if isinstance(node, Call) and node.name in ("len", "count", "size") \
                    and len(node.args) == 1 \
                    and isinstance(node.args[0], Ref) and len(node.args[0].parts) == 1 \
                    and node.args[0].parts[0] in kleene_aliases:
                key = (node.args[0].parts[0], "__count")
                name = hidden.setdefault(key, f"__h_{key[0]}___count")
                return Ref([name])
            return node

        return _map_expr(v, rw)

    for k, v in kwargs.items():
        if isinstance(v, Ref) and len(v.parts) == 2 and v.parts[0] in aliases:
            emit[k] = (v.parts[0], v.parts[1])
        elif isinstance(v, Ref) and len(v.parts) == 1 and v.parts[0] not in aliases:
            emit[k] = (last_alias, v.parts[0])
        elif isinstance(v, Lit):
            lits[k] = v.value
        elif (
            isinstance(v, Call) and v.name in ("len", "count", "size")
            and len(v.args) == 1
            and isinstance(v.args[0], Ref) and len(v.args[0].parts) == 1
            and v.args[0].parts[0] in kleene_aliases
        ):
            # len/count/size over a Kleene alias = the closure size
            # (evaluator.rs array receivers; engine_coverage's
            # `all X as readings … count(readings)`)
            emit[k] = (v.args[0].parts[0], "__count")
        else:
            post.append((k, qualify(v)))

    for key, name in hidden.items():
        emit[name] = key
    return emit, lits, post


def compile_pattern_decl(
    decl: StreamDecl, stream: Stream, env: ProgramEnv | None = None,
    strategy: str | None = None, within_default=None,
) -> Stream:
    env = env or ProgramEnv()
    aliases = {s.alias for s in decl.steps if s.alias}
    sase_steps: list[Step] = []
    auto_alias = 0
    kleene_aliases = set()

    # fold per-step interleaved ops: `.where` binds to its step,
    # `.within` is the per-edge gap bound for THAT step (mid-chain
    # within, CompressorShortCycle-style), `.print`/`.log` are
    # diagnostics (no-ops)
    gap_of: dict[int, object] = {}
    for s in decl.steps:
        for op in s.ops:
            if op.name in ("print", "log", "tap"):
                continue
            if op.name == "where":
                s.where = _and_exprs(s.where, op.args[0])
            elif op.name == "within":
                a = op.args[0]
                gap_of[id(s)] = a.text if isinstance(a, Dur) else a.value
            else:
                raise ValueError(f"op .{op.name} not supported between pattern steps")
        s.ops = []
    # `A -> B .within(x) -> C .within(y)`: the trailing within parses into
    # decl.ops, but when earlier edges carry their own within the author
    # means per-edge bounds throughout — move it onto the last step
    if gap_of and decl.steps and id(decl.steps[-1]) not in gap_of:
        for op in decl.ops:
            if op.name == "within":
                a = op.args[0]
                gap_of[id(decl.steps[-1])] = a.text if isinstance(a, Dur) else a.value
                decl.ops = [o for o in decl.ops if o is not op]
                break

    for s in decl.steps:
        alias = s.alias or f"_s{auto_alias}"
        auto_alias += 1
        aliases.add(alias)
        if s.kleene:
            kleene_aliases.add(alias)
        from varpulis_spark.functions import duration_ns

        gap = gap_of.get(id(s))
        sase_steps.append(
            Step(
                s.event_type,
                alias,
                where=to_python(s.where, aliases) if s.where else None,
                where_sql=_try_sql(s.where, alias, aliases),
                kleene=s.kleene,
                gap_ns=duration_ns(gap) if gap is not None else None,
            )
        )

    within = within_default
    emit_kwargs: dict[str, object] = {}
    negs: list[Step] = []
    post_wheres = []
    explicit_keys: list[str] | None = None
    trend_op: OpCall | None = None
    forecast_op: OpCall | None = None
    kleene_emit = "combinations"
    for op in decl.ops:
        if op.name in ("print", "log", "tap", "to", "from"):
            continue
        elif op.name == "within":
            within = op.args[0].text if isinstance(op.args[0], Dur) else op.args[0].value
        elif op.name == "partition_by":
            explicit_keys = [".".join(a.parts) for a in op.args if isinstance(a, Ref)]
        elif op.name == "trend_aggregate":
            trend_op = op
        elif op.name == "forecast":
            forecast_op = op
        elif op.name == "not":
            ps: PatternStep = op.args[0]
            negs.append(
                Step(
                    ps.event_type,
                    ps.alias or "_not",
                    where=to_python(ps.where, aliases) if ps.where else None,
                    where_sql=_try_sql(ps.where, ps.alias or "_not", aliases),
                    negated=True,
                )
            )
        elif op.name == "emit":
            emit_kwargs = dict(op.kwargs)
            ctx = emit_kwargs.get("context")
            if (isinstance(ctx, Ref) and len(ctx.parts) == 1
                    and ctx.parts[0] not in stream.df.columns):
                # cross-context routing key (syntax.md "Cross-Context
                # Emit") — no-op here, same as the relational emit path
                emit_kwargs.pop("context")
        elif op.name == "where":
            post_wheres.append(op.args[0])
        elif op.name == "kleene_emit":
            # `.kleene_emit("maximal")` — reference RUN semantics for
            # closures (complete_run sase.rs:3120-3131); default stays
            # "combinations" (exhaustive SASE+)
            arg = op.args[0]
            kleene_emit = arg.value if hasattr(arg, "value") else str(arg)
            if kleene_emit not in ("combinations", "maximal"):
                raise ValueError(
                    f".kleene_emit expects 'combinations' or 'maximal', "
                    f"got {kleene_emit!r}"
                )
        else:
            raise ValueError(f"op .{op.name} not supported after a pattern chain")

    # Hamlet / PST modes: trend_aggregate and forecast replace NFA matching
    # entirely (engine/mod.rs:1862-1866 forecast mode; hamlet mode likewise)
    if trend_op is not None:
        return _compile_trend_pattern(
            decl, trend_op, within, explicit_keys, emit_kwargs, stream
        )
    if forecast_op is not None:
        return _compile_forecast_pattern(
            decl, forecast_op, within, explicit_keys, emit_kwargs, post_wheres, stream
        )

    # merge post-pattern wheres into the final step (pushdown, compiler.rs:146)
    for w in post_wheres:
        last = sase_steps[-1]
        py = to_python(w, aliases)
        old_py = last.where
        # the post-where references the last step through its ALIAS
        # (`p.amount > 50`), but while the NFA is TESTING a candidate for
        # that step the alias is not bound yet — bind it to the candidate
        # event for the evaluation (r9 bug: the unbound lookup raised
        # KeyError → pred_ok False → the streaming NFA path never matched;
        # batch hid it by lowering to the join-compiled path)
        last.where = (
            lambda old, new, a: (
                lambda ev, b: (old is None or old(ev, b))
                and new(ev, {**b, a: ev})
            )
        )(old_py, py, last.alias)
        sql = _try_sql(w, last.alias, aliases)
        if sql is None:
            last.where_sql = None
        elif last.where_sql is not None or old_py is None:
            last.where_sql = f"({last.where_sql} AND {sql})" if last.where_sql else sql

    last_alias = sase_steps[-1].alias
    emit, lit_cols, post = _classify_emit(emit_kwargs, aliases, kleene_aliases, last_alias)

    # global negation → guards between every adjacent positive pair
    steps_final: list[Step] = []
    for i, s in enumerate(sase_steps):
        steps_final.append(s)
        if i < len(sase_steps) - 1:
            steps_final.extend(negs)

    neg_asts = [op.args[0] for op in decl.ops if op.name == "not"]
    # explicit `.partition_by(k)` wins over correlation auto-inference
    # (engine/mod.rs:1909-1913: explicit keys applied to the SASE engine)
    pstream = stream
    keys = explicit_keys
    if not keys:
        spec = _auto_partition_spec(decl.steps, neg_steps=neg_asts)
        if isinstance(spec, str):
            keys = [spec]
        elif spec is not None:
            # cross-field correlation: key each event by the field its step
            # equates to `first.<first_field>` — a per-event-type CASE
            # column; events of types outside the map (prefiltered anyway)
            # fall back to the first-step field
            first_field, by_type = spec
            key_col = None
            for t, fld in sorted(by_type.items()):
                cond = F.col("event_type") == F.lit(t)
                key_col = (
                    F.when(cond, F.col(fld)) if key_col is None
                    else key_col.when(cond, F.col(fld))
                )
            pstream = stream.with_column(
                "__vp_pkey", key_col.otherwise(F.col(first_field))
            )
            keys = ["__vp_pkey"]
    p = Pattern(steps=steps_final, within=within, emit=emit,
                partition_by=keys,
                strategy=strategy or SKIP_TILL_ANY,
                kleene_emit=kleene_emit)
    # every emitted event carries its timestamp (the match's last event —
    # detection time, reference event model); needed for downstream
    # windows/sequences over this derived stream
    ts_name = stream.ts_col
    if ts_name not in emit and ts_name not in emit_kwargs:
        emit[ts_name] = (last_alias, ts_name)
    df = pstream.pattern(p).df
    for k, v in lit_cols.items():
        df = df.withColumn(k, F.lit(v))
    for k, expr in post:
        df = df.withColumn(k, to_column(expr))
    # final projection in emit order (hidden columns dropped); matches
    # carry the stream name as their envelope type (pipeline.rs:528)
    if emit_kwargs:
        keep = list(emit_kwargs.keys())
        if "event_type" not in keep:
            df = df.withColumn("event_type", F.lit(decl.name))
            keep.append("event_type")
        if ts_name not in keep and ts_name in df.columns:
            keep.append(ts_name)
        df = df.select(*keep)
    return Stream(df, ts_col=stream.ts_col)


def _try_sql(expr, alias, aliases) -> str | None:
    if expr is None:
        return None
    try:
        return to_sql(expr, alias, aliases)
    except ValueError:
        return None  # NFA path only (opaque predicate)


def _agg_expr(v):
    """Aggregate expression: fn(field) calls plus arithmetic over them —
    `ema(price, 12) - ema(price, 26)` (ExprAggregate aggregation.rs:494)."""
    if isinstance(v, Call):
        # count(distinct(x)) sugar (aggregation.rs count-distinct form)
        if (
            v.name == "count" and len(v.args) == 1
            and isinstance(v.args[0], Call) and v.args[0].name == "distinct"
        ):
            return _AGG_FNS["count_distinct"](".".join(v.args[0].args[0].parts))
        fn = _AGG_FNS[v.name]
        fargs = []
        for a in v.args:
            if isinstance(a, Ref):
                fargs.append(".".join(a.parts))
            elif isinstance(a, Lit):
                fargs.append(a.value)
            else:
                raise ValueError(f"aggregate arg not supported: {a}")
        return fn(*fargs)
    if isinstance(v, Lit):
        return v.value
    if isinstance(v, Bin) and v.op in ("+", "-", "*", "/"):
        # _NP_OPS: operands are AggArith/Column-like, not scalars
        return _NP_OPS[v.op](_agg_expr(v.left), _agg_expr(v.right))
    raise ValueError(f"aggregate expression not supported: {v}")


# ---------------------------------------------------------------------------
# enrich / score / trend_aggregate / forecast ops
# ---------------------------------------------------------------------------


def _compile_enrich(op: OpCall, stream: Stream, env: ProgramEnv, resolver=None) -> Stream:
    """`.enrich(Conn, key:, fields:, cache_ttl:, timeout:, fallback:)`
    (EnrichSpec ast.rs:382-398; EnrichConfig engine/types.rs:248-263).

    In replay mode the connector must be bound to a dimension DataFrame:
    `run_program(src, stream, tables={"Conn": dim_df})` or
    `tables={"Conn": (dim_df, "key_col")}` (default key = first column).
    The reference's live HTTP/SQL/Redis providers (runtime/src/enrichment/)
    refresh per lookup with a TTL cache; batch parity is one broadcast dim
    join per job (Stream.enrich docstring), so cache_ttl/timeout are
    accepted and ignored here."""
    if not op.args:
        raise ValueError(".enrich expects a connector name first argument")
    a0 = op.args[0]
    if isinstance(a0, Ref):
        conn = a0.parts[0]
    elif isinstance(a0, PatternStep):  # parser wraps capitalized idents
        conn = a0.event_type
    else:
        raise ValueError(".enrich expects a connector name first argument")
    bound = env.tables.get(conn)
    if bound is None:
        raise ValueError(
            f".enrich connector '{conn}' is not bound; pass "
            f"tables={{'{conn}': dimension_df}} to run_program"
        )
    key_expr = op.kwargs.get("key")
    if key_expr is None:
        raise ValueError(".enrich requires key:")
    fields_ast = op.kwargs.get("fields")
    fields = (
        [".".join(r.parts) for r in fields_ast.items]
        if isinstance(fields_ast, ListLit)
        else None
    )
    fb = op.kwargs.get("fallback")

    if hasattr(bound, "lookup"):
        # live provider binding (EnrichmentProvider analog) — per-row
        # lookups with a worker-local TTL cache (varpulis_spark.enrichment)
        from varpulis_spark.enrichment import enrich_with_provider

        if fields is None:
            raise ValueError(".enrich with a provider requires fields: [...]")
        if not (isinstance(key_expr, Ref)):
            raise ValueError(".enrich provider key must be a field reference")
        key_name = key_expr.parts[-1]
        ttl = op.kwargs.get("cache_ttl")
        ttl = ttl.text if isinstance(ttl, Dur) else "5m"
        tmo = op.kwargs.get("timeout")
        tmo = tmo.text if isinstance(tmo, Dur) else None
        fallback = {f: fb.value for f in fields} if isinstance(fb, Lit) else None
        return enrich_with_provider(
            stream, bound, key=key_name, fields=fields,
            cache_ttl=ttl, timeout=tmo, fallback=fallback,
        )

    dim, dim_key = bound if isinstance(bound, tuple) else (bound, bound.columns[0])
    key = to_column(key_expr, resolver)
    fallback = None
    if isinstance(fb, Lit):
        fallback = {
            f: fb.value
            for f in (fields or [c for c in dim.columns if c != dim_key])
        }
    # VPL programs may project enrich_status / enrich_latency_ms — the
    # reference stamps them on every enriched event (engine/pipeline.rs:249)
    return stream.enrich(
        dim, key=key, dim_key=dim_key, fields=fields, fallback=fallback,
        status_cols=True,
    )


def _compile_score(op: OpCall, stream: Stream) -> Stream:
    """`.score(model:, inputs:, outputs:)` (ScoreSpec ast.rs:354-359) —
    batch inference via operators/score.py (ONNX when available, documented
    linear fallback otherwise)."""
    from varpulis_spark.operators.score import score as _score

    model = op.kwargs.get("model") or (op.args[0] if op.args else None)
    if model is None:
        raise ValueError(".score requires model:")
    model_path = model.value if isinstance(model, Lit) else ".".join(model.parts)
    inputs_ast = op.kwargs.get("inputs")
    if not isinstance(inputs_ast, ListLit) or not inputs_ast.items:
        raise ValueError(".score requires inputs: [field, ...]")
    inputs = [".".join(r.parts) for r in inputs_ast.items]
    outs = op.kwargs.get("outputs")
    output = (
        ".".join(outs.items[0].parts)
        if isinstance(outs, ListLit) and outs.items
        else "score"
    )
    return stream._with(_score(stream.df, model_path, inputs, output))


_TREND_AGG_MAP = {
    "count_trends": "trend_count",
    "count_events": "event_count",
    "sum_trends": "value_sum",
    "sum": "value_sum",
}


def _parse_trend_items(op: OpCall):
    """`.trend_aggregate(c: count_trends(), n: count_events(r), s: sum(f))`
    (TrendAggItem ast.rs:343-350) → (value_field, {out_alias: dp_column})."""
    renames: dict[str, str] = {}
    value_field = None
    for alias, v in op.kwargs.items():
        if not isinstance(v, Call) or v.name not in _TREND_AGG_MAP:
            raise ValueError(f"trend_aggregate item not supported: {alias}: {v}")
        col = _TREND_AGG_MAP[v.name]
        if col == "value_sum":
            if not v.args or not isinstance(v.args[0], Ref):
                raise ValueError(f"{v.name}() requires a field argument")
            value_field = v.args[0].parts[-1]
        renames[alias] = col
    if not renames:
        renames = {"trend_count": "trend_count", "event_count": "event_count"}
    return value_field, renames


def _compile_trend_relational(op: OpCall, stream: Stream, within=None) -> Stream:
    """Single-stream `.trend_aggregate(...)`: every ts-ordered subset of the
    (already typed/filtered) stream is a trend (GRETA closed form /
    within-bounded DP, operators/greta.py)."""
    value_field, renames = _parse_trend_items(op)
    out = stream.trend_aggregate(value_field=value_field, within=within)
    df = out.df
    sel = [F.col(k) for k in stream.keys] + [
        F.col(src).alias(dst) for dst, src in renames.items()
    ]
    return Stream(df.select(*sel), ts_col=stream.ts_col, keys=stream.keys)


def _vec_adjacency(expr, cur_alias: str, prev_aliases: set[str]):
    """Kleene-edge predicate AST → `adjacent_vec(cols, i)` (numpy-
    vectorized over all predecessors j < i).

    Refs to the Kleene alias (or bare fields) read the CURRENT event i;
    refs to earlier aliases (`first.price`) read the PREDECESSOR events —
    GRETA's event graph has consecutive-edge structure (greta.rs:376-417
    predecessor edges), so trend-start-relative predicates tighten to
    edge-relative form (documented approximation; the DP cannot carry
    per-trend start bindings without enumeration)."""
    import numpy as np

    def rec(e):
        if isinstance(e, Lit):
            v = e.value
            return lambda cols, i: v
        if isinstance(e, Dur):
            from varpulis_spark.functions import duration_ns

            v = duration_ns(e.text)
            return lambda cols, i: v
        if isinstance(e, Ref):
            if len(e.parts) == 2 and e.parts[0] == cur_alias:
                f = e.parts[1]
                return lambda cols, i: cols[f][i]
            if len(e.parts) == 2 and e.parts[0] in prev_aliases:
                f = e.parts[1]
                return lambda cols, i: cols[f][:i]
            f = ".".join(e.parts)
            return lambda cols, i: cols[f][i]
        if isinstance(e, Un) and e.op == "not":
            inner = rec(e.operand)
            return lambda cols, i: ~np.asarray(inner(cols, i))
        if isinstance(e, Un) and e.op == "-":
            inner = rec(e.operand)
            return lambda cols, i: -inner(cols, i)
        if isinstance(e, Bin):
            lf, rf = rec(e.left), rec(e.right)
            if e.op == "and":
                return lambda cols, i: np.asarray(lf(cols, i)) & np.asarray(rf(cols, i))
            if e.op == "or":
                return lambda cols, i: np.asarray(lf(cols, i)) | np.asarray(rf(cols, i))
            # native operators, NOT _PY_OPS: these run on numpy arrays,
            # where the scalar table's null/zero checks don't broadcast
            pyop = _NP_OPS[e.op]
            return lambda cols, i: pyop(lf(cols, i), rf(cols, i))
        raise ValueError(f"adjacency predicate not supported: {e}")

    fn = rec(expr)

    def vec(cols, i):
        return np.broadcast_to(np.asarray(fn(cols, i)), (i,))

    return vec


def _compile_trend_pattern(
    decl: StreamDecl, trend_op: OpCall, within, keys: list[str] | None,
    emit_kwargs: dict, stream: Stream,
) -> Stream:
    """`T as first -> all T where <pred> as r … .trend_aggregate(...)`:
    the Kleene step's type is the trend type, its predicate becomes the
    GRETA edge predicate (see _vec_adjacency), `within` bounds edge gaps.
    Emit may project partition keys (directly or via any step alias) and
    the aggregate aliases."""
    kleene = next((s for s in decl.steps if s.kleene), decl.steps[-1])
    aliases = {s.alias for s in decl.steps if s.alias}
    cur = kleene.alias or "_k"
    prev_aliases = aliases - {cur}
    adjacent_vec = (
        _vec_adjacency(kleene.where, cur, prev_aliases) if kleene.where is not None else None
    )
    value_field, renames = _parse_trend_items(trend_op)

    src = stream.of_type(kleene.event_type) if kleene.event_type else stream
    if keys:
        src = src.partition_by(*keys)
    out_df = src.trend_aggregate(
        value_field=value_field, within=within, adjacent_vec=adjacent_vec
    ).df

    key_set = set(keys or [])
    if emit_kwargs:
        sel = []
        for k, v in emit_kwargs.items():
            if isinstance(v, Lit):
                sel.append(F.lit(v.value).alias(k))
            elif isinstance(v, Ref) and len(v.parts) == 1 and v.parts[0] in renames:
                sel.append(F.col(renames[v.parts[0]]).alias(k))
            elif isinstance(v, Ref) and v.parts[-1] in key_set:
                sel.append(F.col(v.parts[-1]).alias(k))
            else:
                raise ValueError(f"trend_aggregate emit not supported: {k}: {v}")
        out_df = out_df.select(*sel)
    else:
        out_df = out_df.select(
            *[F.col(k) for k in (keys or [])],
            *[F.col(src_c).alias(dst) for dst, src_c in renames.items()],
        )
    return Stream(out_df, ts_col=stream.ts_col)


def _compile_forecast_pattern(
    decl: StreamDecl, op: OpCall, within, keys: list[str] | None,
    emit_kwargs: dict, post_wheres: list, stream: Stream,
) -> Stream:
    """`A -> B -> C .within(w) .forecast(confidence:, horizon:, warmup:,
    max_depth:, hawkes:, conformal:, mode:)` (ForecastSpec ast.rs:361-380)
    → operators/forecast.py over the pattern's event-type sequence.

    Post-forecast `.where`/`.emit` see the reference's field names
    (forecast_probability, forecast_lower/upper, forecast_confidence,
    next_step, active_runs) plus the partition keys; per-run step-alias
    fields (e.g. `recon.source_ip`) are not materialized — the forecast op
    summarizes the best run, it does not carry match bindings."""

    def num(name, default=None):
        v = op.kwargs.get(name)
        return float(v.value) if isinstance(v, Lit) else default

    def flag(name, default=True):
        v = op.kwargs.get(name)
        return bool(v.value) if isinstance(v, Lit) else default

    horizon = op.kwargs.get("horizon")
    horizon = horizon.text if isinstance(horizon, Dur) else (
        horizon.value if isinstance(horizon, Lit) else None
    )
    mode = op.kwargs.get("mode")
    mode = mode.value if isinstance(mode, Lit) else None
    warmup = num("warmup")
    max_depth = num("max_depth")

    from varpulis_spark.operators.forecast import forecast as _forecast

    pattern_types = [s.event_type for s in decl.steps if s.event_type]
    src = stream
    drop_cols: list[str] = []
    if not keys:
        # no explicit partition_by: fall back to correlation inference
        # (SASEXT), else a single global model (the reference's default —
        # one PMC per stream when unpartitioned)
        auto = _auto_partition_key(decl.steps)
        if auto:
            keys = [auto]
        else:
            src = Stream(
                stream.df.withColumn("__g", F.lit(0)),
                ts_col=stream.ts_col, order_col=stream.order_col,
            )
            keys = ["__g"]
            drop_cols = ["__g"]
    src = src.partition_by(*keys)
    fc_kwargs = dict(
        horizon=horizon if horizon is not None else within,
        max_depth=int(max_depth) if max_depth is not None else None,
        warmup=int(warmup) if warmup is not None else None,
        confidence=num("confidence", 0.0) or 0.0,
        hawkes=flag("hawkes", True),
        conformal=flag("conformal", True),
        mode=mode,
    )
    # static __first_* pruning: collect every run-start field the
    # post-forecast where/emit could reference under fc_resolver's
    # rules (first-alias two-part refs + bare input-field refs — a
    # conservative SUPERSET) and ship only those through the Arrow
    # boundary; column pruning cannot cross mapInPandas, and the
    # default all-columns capture dominates the op's output payload
    # (and, streaming, the pickled run-start state).
    first_alias_name = decl.steps[0].alias
    in_cols_set = set(src.df.columns)
    needed: set[str] = set()

    def _collect_first_refs(n):
        if isinstance(n, Ref):
            if len(n.parts) == 2 and n.parts[0] == first_alias_name:
                if n.parts[1] in in_cols_set:
                    needed.add(n.parts[1])
            elif len(n.parts) == 1 and n.parts[0] in in_cols_set:
                needed.add(n.parts[0])
        return n

    for e in list(emit_kwargs.values()) + list(post_wheres):
        _map_expr(e, _collect_first_refs)
    fc_kwargs["first_cols"] = sorted(needed)
    if src.df.isStreaming:
        # streaming `.forecast` — the reference's native mode (PST trains
        # as events arrive); per-key engine state rides the state store
        from varpulis_spark.streaming import forecast_streaming

        out = forecast_streaming(src, pattern_types, **fc_kwargs).df
    else:
        out = _forecast(src, pattern_types, **fc_kwargs)
    df = (
        out.withColumnRenamed("completion_prob", "forecast_probability")
        .withColumnRenamed("prob_lo", "forecast_lower")
        .withColumnRenamed("prob_hi", "forecast_upper")
        .withColumnRenamed("expected_time_us", "forecast_time")
    )
    for c in drop_cols:
        df = df.drop(c)

    first_alias = decl.steps[0].alias
    aliases = {s.alias for s in decl.steps if s.alias}

    out_cols = set(df.columns)

    def fc_resolver(ref):
        # first-step alias fields ride along as __first_* columns; later
        # aliases are unbound at forecast time → null (reference: the run
        # hasn't captured them yet when the forecast fires)
        if len(ref.parts) == 1 and ref.parts[0] in (
            "forecast_expected_time", "forecast_eta",
        ):
            return F.col("forecast_time")
        if len(ref.parts) == 2 and ref.parts[0] == first_alias:
            return F.col(f"__first_{ref.parts[1]}")
        if len(ref.parts) == 2 and ref.parts[0] in aliases:
            return F.lit(None)
        if (
            len(ref.parts) == 1
            and ref.parts[0] not in out_cols
            and f"__first_{ref.parts[0]}" in out_cols
        ):
            # bare event-field ref (e.g. `ts`): the run-start capture
            return F.col(f"__first_{ref.parts[0]}")
        return None

    for w in post_wheres:
        df = df.filter(to_column(w, fc_resolver))
    if emit_kwargs:
        sel = [to_column(v, fc_resolver).alias(k) for k, v in emit_kwargs.items()]
        # keep the event-time column so forecast events stay windowable /
        # mergeable downstream (forecast_iot.vpl merges forecast streams
        # into a windowed aggregate)
        if stream.ts_col in df.columns and stream.ts_col not in emit_kwargs:
            sel.append(F.col(stream.ts_col))
        df = df.select(*sel)
    else:
        df = df.drop(*[c for c in df.columns if c.startswith("__first_")])
    return Stream(df, ts_col=stream.ts_col)


# ---------------------------------------------------------------------------
# relational compilation
# ---------------------------------------------------------------------------


def _contains_agg(e) -> bool:
    found = False

    def walk(n):
        nonlocal found
        if isinstance(n, Call) and n.name in _AGG_FNS:
            found = True
        return n

    _map_expr(e, walk)
    return found


def _compile_windowed_emit(
    windowed, out: Stream, emit_op: OpCall, havings: list, resolver,
    stream_name: str | None = None,
) -> Stream:
    """`.window(n) .where(first(x) < first(y)) .emit(a: last(x), b: "lit")`
    — aggregate expressions directly in where/emit over a pending window
    (financial_markets.vpl GoldenCross): every aggregate sub-call becomes
    a hidden aggregation column; the where conjuncts filter post-agg
    (HAVING) and the emit projects Catalyst expressions over them."""
    hidden: dict[str, tuple[str, object]] = {}

    def rewrite(e):
        def rw(n):
            if isinstance(n, Call) and n.name in _AGG_FNS:
                key = repr(n)
                name = hidden.setdefault(key, (f"__wagg_{len(hidden)}", n))[0]
                return Ref([name])
            return n

        return _map_expr(e, rw)

    havings_rw = [rewrite(h) for h in havings]
    emit_rw = {k: rewrite(v) for k, v in emit_op.kwargs.items()}
    aggs = {name: _agg_expr(node) for name, node in hidden.values()}
    res = windowed.aggregate(**aggs)
    df = res.df
    for h in havings_rw:
        df = df.filter(to_column(h, resolver))
    etype = None
    if emit_op.args and isinstance(emit_op.args[0], (Lit, Ref)):
        a0 = emit_op.args[0]
        etype = a0.value if isinstance(a0, Lit) else a0.parts[0]
    if etype is None:
        etype = stream_name  # envelope type defaults to the stream name
    sel = [to_column(v, resolver).alias(k) for k, v in emit_rw.items()]
    if etype is not None and "event_type" not in emit_rw:
        sel.insert(0, F.lit(etype).alias("event_type"))
    # keep the window's event time for downstream windowing/joins
    if res.ts_col in df.columns and res.ts_col not in emit_rw:
        sel.append(F.col(res.ts_col))
    return Stream(df.select(*sel), ts_col=res.ts_col, keys=out.keys)


def _compile_window_pattern_op(windowed, out: Stream, op: OpCall) -> Stream:
    """`.window(d) .pattern(alias: events => pred)` (sase_patterns.vpl
    VelocityAlert): the window's collected event list is bound to the
    lambda parameter; windows where the predicate holds emit one event
    with `alias` = true. Lowered as collect_list(struct(*)) + a Catalyst
    HOF predicate — the lambda stays JVM-side."""
    if not op.kwargs:
        raise ValueError(".pattern expects alias: lambda")
    alias, lam = next(iter(op.kwargs.items()))
    if not isinstance(lam, Lambda):
        raise ValueError(".pattern expects a lambda (events => ...)")
    res = windowed.aggregate(__events=F.collect_list(F.struct("*")))
    df = res.df
    param = lam.params[0]

    def force_array(n):
        # `events.len()` — the param is known array-typed here, so len/count
        # dispatch to the array form regardless of the receiver heuristic
        if (
            isinstance(n, Call) and n.name in ("len", "count") and n.args
            and isinstance(n.args[0], Ref) and n.args[0].parts == [param]
        ):
            return Call("size", n.args)
        return n

    body = _map_expr(lam.body, force_array)
    pred = to_column(
        body,
        resolver=lambda ref: F.col("__events") if ref.parts == [param] else None,
    )
    df = df.filter(pred).withColumn(alias, F.lit(True)).drop("__events")
    return Stream(df, ts_col=res.ts_col, keys=out.keys)


def compile_relational_decl(
    decl: StreamDecl, stream: Stream, env: ProgramEnv | None = None
) -> Stream:
    return _apply_relational_ops(decl, stream, typed=True, env=env)


def _apply_relational_ops(
    decl: StreamDecl, stream: Stream, typed: bool,
    env: ProgramEnv | None = None, resolver=None,
) -> Stream:
    env = env or ProgramEnv()
    out = stream
    # `Order as o` alias: qualified refs (o.product_id) resolve to the bare
    # column; composes with any caller-provided resolver (join sources)
    if decl.steps and decl.steps[0].alias:
        outer = resolver
        a0 = decl.steps[0].alias

        def resolver(ref, _outer=outer, _a0=a0):  # noqa: A001 - intentional shadow
            if _outer is not None:
                c = _outer(ref)
                if c is not None:
                    return c
            if len(ref.parts) >= 2 and ref.parts[0] == _a0:
                return F.col(".".join(ref.parts[1:]))
            return None

    if decl.steps:
        s0 = decl.steps[0]
        if typed:
            out = stream.of_type(s0.event_type)
        if s0.where is not None:
            out = out.where(to_column(s0.where, resolver))
        ops = list(s0.ops) + list(decl.ops)
    else:
        ops = list(decl.ops)
    # `.window(5m).partition_by(k).aggregate(...)`: the reference keys the
    # window state per partition regardless of clause order
    # (engine/types.rs window op carries its partition key) — hoist
    # partition_by above an immediately-preceding window.
    norm: list[OpCall] = []
    for op in ops:
        if op.name == "partition_by" and norm and norm[-1].name == "window":
            norm.insert(len(norm) - 1, op)
        else:
            norm.append(op)
    ops = norm
    windowed = None
    pending_havings: list = []
    for op in ops:
        if op.name in ("print", "log", "tap", "to", "from", "context"):
            continue  # diagnostics / sink-bindings: no-ops in replay mode
        elif op.name in ("where", "filter", "having"):
            if windowed is not None and _contains_agg(op.args[0]):
                # HAVING over a pending window: resolved when the
                # aggregate-bearing emit arrives (_compile_windowed_emit)
                pending_havings.append(op.args[0])
                continue
            cond = to_column(op.args[0], resolver)
            out = out.having(cond) if op.name == "having" else out.where(cond)
        elif op.name == "pattern":
            if windowed is None:
                raise ValueError(".pattern(lambda) requires a window")
            out = _compile_window_pattern_op(windowed, out, op)
            windowed = None
        elif op.name == "select":
            cols = [".".join(a.parts) for a in op.args if isinstance(a, Ref)]
            named = {k: to_column(v, resolver) for k, v in op.kwargs.items()}
            # reference semantics: select narrows the payload, the event
            # keeps its timestamp/type (event.rs:23-31) — windows/patterns
            # downstream of a select still order and route correctly
            out = out.select_with_envelope(*cols, **named)
            # the projected frame carries the select's OUTPUT names; a
            # caller-provided resolver (join-source qualification) is
            # stale past this point — join_tests.rs's select→emit chains
            # reference the select aliases as bare columns
            resolver = None
        elif op.name == "emit":
            if windowed is not None and (
                pending_havings or any(_contains_agg(v) for v in op.kwargs.values())
            ):
                out = _compile_windowed_emit(
                    windowed, out, op, pending_havings, resolver,
                    stream_name=decl.name,
                )
                windowed = None
                pending_havings = []
                continue
            kwargs = dict(op.kwargs)
            ctx = kwargs.get("context")
            if (isinstance(ctx, Ref) and len(ctx.parts) == 1
                    and ctx.parts[0] not in out.df.columns):
                # cross-context emit (`emit(context: analytics, ...)`,
                # docs/language/syntax.md "Cross-Context Emit"): routes the
                # output to another execution context. Contexts are Spark
                # partitions here, so routing is a no-op — drop the key
                # (unless a real column shadows the name).
                kwargs.pop("context")
            # the reference's SIMPLE Emit path (every value a bare ident or
            # string literal, engine/mod.rs:1519-1553) resolves each ident
            # against the event's fields and falls back to the ident's NAME
            # as a literal string (pipeline.rs:533-542) — `emit(missing:
            # nonexistent_field)` emits the string "nonexistent_field"
            all_simple = all(
                (isinstance(v, Ref) and len(v.parts) == 1)
                or (isinstance(v, Lit) and isinstance(v.value, str))
                for v in kwargs.values()
            )

            def _emit_col(v):
                if (
                    all_simple
                    and isinstance(v, Ref)
                    and v.parts[0] not in out.df.columns
                    and v.parts[0] not in env.vars
                    and (resolver is None or resolver(v) is None)
                ):
                    return F.lit(v.parts[0])
                return to_column(v, resolver)

            named = {k: _emit_col(v) for k, v in kwargs.items()}
            etype = None
            if op.args and isinstance(op.args[0], Lit):
                etype = op.args[0].value
            elif op.args and isinstance(op.args[0], Ref):
                etype = op.args[0].parts[0]  # `.emit as Type` sugar
            if etype is None:
                # the envelope type of an emitted event defaults to the
                # STREAM name (pipeline.rs:528; engine_extended_tests
                # select_multiple_events_preserves_event_type) — `.emit as
                # Type` overrides it, an `event_type:` kwarg stays a data
                # column that shadows the stamp
                etype = decl.name
            out = out.emit(etype, **named)
        elif op.name == "partition_by":
            out = out.partition_by(*[".".join(a.parts) for a in op.args])
        elif op.name == "window":
            size = None
            if op.args:
                a = op.args[0]
                size = a.text if isinstance(a, Dur) else a.value
            sliding = op.kwargs.get("sliding")
            sliding = sliding.text if isinstance(sliding, Dur) else (
                sliding.value if isinstance(sliding, Lit) else None
            )
            session = op.kwargs.get("session")
            session = session.text if isinstance(session, Dur) else None
            windowed = out.window(size, sliding=sliding, session=session)
        elif op.name == "aggregate":
            if (
                windowed is not None
                and windowed.kind == "count"
                and out.df.isStreaming
            ):
                # streaming count window: the compiler still holds the agg
                # AST, so lower straight to the stateful per-key counter
                # twin (the Column form can't be introspected post-hoc)
                simple = {"count", "sum", "avg", "min", "max", "first", "last"}
                specs: dict[str, tuple[str, str | None]] = {}
                for k, v in op.kwargs.items():
                    if not (isinstance(v, Call) and v.name in simple):
                        raise NotImplementedError(
                            f"streaming count-window aggregate '{k}' must be "
                            f"one of {sorted(simple)} (got {v!r})"
                        )
                    fld = (
                        ".".join(v.args[0].parts)
                        if v.args and isinstance(v.args[0], Ref)
                        else None
                    )
                    specs[k] = (v.name, fld)
                from varpulis_spark.streaming import count_window_streaming

                out = count_window_streaming(
                    windowed.stream, windowed.size, specs, slide=windowed.slide
                )
                windowed = None
                continue
            aggs = {k: _agg_expr(v) for k, v in op.kwargs.items()}
            # `zone: last(zone)` with partition_by(zone): the reference's
            # aggregate output holds ONE field per alias — the alias
            # shadows the auto-included group key (hvac_demo.vpl:89)
            shadowed = [k for k in aggs if k in (out.keys or [])]
            renames = {}
            for k in shadowed:
                tmp = f"__agg__{k}"
                aggs[tmp] = aggs.pop(k)
                renames[tmp] = k
            res = (windowed or out).aggregate(**aggs)
            df2 = res.df
            for tmp, k in renames.items():
                df2 = df2.drop(k).withColumnRenamed(tmp, k)
            # PARTITIONED aggregate results additionally carry `_partition`
            # = the stringified partition-key value (pipeline.rs:475-489),
            # addressable in downstream emit/having (`emit(region:
            # _partition)`, engine_coverage_final partition_by_* cases)
            if out.keys and "_partition" not in df2.columns:
                df2 = df2.withColumn(
                    "_partition", F.col(out.keys[0]).cast("string")
                )
            out = res._with(df2)
            windowed = None
        elif op.name == "distinct":
            # `ttl:` kwarg (streaming extension: re-admit keys after
            # event-time expiry; no-op surface in the reference, which
            # bounds distinct state with an LRU instead)
            ttl = op.kwargs.get("ttl")
            ttl = ttl.text if isinstance(ttl, Dur) else (
                ttl.value if isinstance(ttl, Lit) else None
            )
            out = out.distinct(
                *[".".join(a.parts) for a in op.args if isinstance(a, Ref)],
                **({"ttl": ttl} if ttl else {}),
            )
        elif op.name == "limit":
            out = out.limit(int(op.args[0].value))
        elif op.name == "first":
            out = out.first()
        elif op.name == "order_by":
            cols = []
            for a in op.args:
                if isinstance(a, Ref):
                    cols.append(".".join(a.parts))
                elif isinstance(a, Un) and a.op == "-" and isinstance(a.operand, Ref):
                    cols.append(F.col(".".join(a.operand.parts)).desc())
            out = out.order_by(*cols)
        elif op.name == "watermark":
            # the reference reads ONLY `out_of_order:` from the kwarg list;
            # any other kwargs (e.g. `value:`/`delay:`) are silently ignored
            # and max_ooo stays 0 (engine/mod.rs:811-825) — mirror that
            # instead of crashing (engine_coverage watermark_basic)
            w = op.kwargs.get("out_of_order") or (op.args[0] if op.args else None)
            if w is not None:
                out = out.watermark(w.text if isinstance(w, Dur) else w.value)
        elif op.name == "allowed_lateness":
            # Late-tolerance extends window retention in the live engine
            # (WatermarkConfig engine/types.rs); batch replay sees the whole
            # input, so nothing is ever late — accepted as a no-op. The
            # streaming path honors it via Stream.late_split.
            pass
        elif op.name == "process":
            out = _compile_process(op, out, env)
        elif op.name == "enrich":
            out = _compile_enrich(op, out, env, resolver)
        elif op.name == "score":
            out = _compile_score(op, out)
        elif op.name == "trend_aggregate":
            out = _compile_trend_relational(op, out, within=None)
        elif op.name == "forecast":
            raise ValueError(
                ".forecast requires a sequence pattern (use -> followed-by steps)"
            )
        else:
            raise ValueError(f"op .{op.name} not supported")
    return out


# ---------------------------------------------------------------------------
# stream sources (merge / join / sequence / timer, ast.rs:165-190)
# ---------------------------------------------------------------------------


def _resolve_part(name: str, stream: Stream, env_streams: dict[str, Stream]) -> Stream:
    if name in env_streams:
        return env_streams[name]
    return stream.of_type(name)


def _compile_merge(decl: StreamDecl, stream: Stream, env: ProgramEnv,
                   env_streams: dict[str, Stream]) -> Stream:
    """merge(A, B where c, ...) — filters upstream, then union
    (MergeSource engine/types.rs:167-171)."""
    parts = []
    for p in decl.source.parts:
        if isinstance(p, StreamDecl):  # inline `stream S = Type .where(...)`
            _expand_decl(p, env)
            parts.append(_apply_relational_ops(p, stream, typed=True, env=env))
            continue
        s = _resolve_part(p.event_type, stream, env_streams)
        if p.where is not None:
            s = s.where(to_column(expand(p.where, env)))
        parts.append(s)
    return stream_merge(*parts)


def _compile_join(decl: StreamDecl, stream: Stream, env: ProgramEnv,
                  env_streams: dict[str, Stream]) -> Stream:
    """join(A, B).on(A.k == B.k).window(1m).select(...) — windowed stream
    equi-join (JoinSource ast.rs:228-240; window.rs join buffers). Lowered
    as an aliased DataFrame join: the `.on` conjuncts become the join
    condition, `.window(d)` adds a |ts_a - ts_b| <= d bound per pair."""
    names = decl.source.parts
    on_expr = None
    window = None
    rest: list[OpCall] = []
    for op in decl.ops:
        if op.name == "on":
            on_expr = expand(op.args[0], env)
        elif op.name == "window" and window is None and op.args:
            a = op.args[0]
            window = a.text if isinstance(a, Dur) else a.value
        else:
            rest.append(op)
    if on_expr is None:
        raise ValueError("join(...) requires .on(condition)")

    from varpulis_spark.functions import duration_ns

    def qualified(e: Ref):
        if len(e.parts) == 2 and e.parts[0] in names:
            n, f = e.parts
            if f in dfs[n].df.columns:
                return F.col(f"{n}.{f}")
            if f == "ts":
                # `.ts` is the event-time accessor; an aggregate stream's
                # event time lives in window_end (WindowedStream)
                return F.col(f"{n}.{dfs[n].ts_col}")
            # the reference is dynamically typed: a field the upstream
            # emit didn't produce reads as null, not an analysis error
            return F.lit(None)
        if len(e.parts) == 1:
            # bare ref over a join: both sides may carry the column
            # (join keys, envelope cols) — resolve to the FIRST source
            # that has it, in declaration order (the reference's scope
            # resolution), instead of Spark's ambiguity error
            f = e.parts[0]
            for n in names:
                if f in dfs[n].df.columns:
                    return F.col(f"{n}.{f}")
        return None

    def conjuncts(e):
        if isinstance(e, Bin) and e.op == "and":
            return conjuncts(e.left) + conjuncts(e.right)
        return [e]

    def ref_names(e) -> set[str]:
        found = set()

        def walk(n):
            if isinstance(n, Ref) and len(n.parts) == 2 and n.parts[0] in names:
                found.add(n.parts[0])
            return n

        _map_expr(e, walk)
        return found

    dfs = {n: _resolve_part(n, stream, env_streams) for n in names}
    streaming = any(dfs[n].df.isStreaming for n in names)
    if streaming:
        # stream-stream lowering (same rules as operators/joins.py):
        # watermark every streaming side and express the band as
        # timestamp±interval so Spark derives state eviction
        if window is None:
            raise ValueError("streaming join(...) requires .window (bounded state)")
        if len(names) > 2:
            raise NotImplementedError(
                "streaming join over >2 sources: use Stream.join (the "
                "aliased-scope lowering can't strip per-side event-time "
                "tags without breaking name resolution)"
            )
        for n in names:
            if dfs[n].df.isStreaming:
                dfs[n] = dfs[n].watermark(window)
    base_name = names[0]
    base = dfs[base_name]
    joined = base.df.alias(base_name)
    win_ns = duration_ns(window) if window is not None else None
    pending = conjuncts(on_expr)
    available = {base_name}
    for n in names[1:]:
        available.add(n)
        now = [c for c in pending if ref_names(c) <= available]
        pending = [c for c in pending if c not in now]
        c = F.lit(True)
        for x in now:
            c = c & to_column(x, qualified)
        band_ns = win_ns
        if band_ns is not None and not (
            base.ts_col in base.df.columns and dfs[n].ts_col in dfs[n].df.columns
        ):
            # joining AGGREGATED streams (join_tests.rs
            # test_aggregate_comparison_join): count-window aggregate
            # outputs carry no event-time column — the reference's 1m
            # join window bounds ARRIVAL skew, which batch replay has
            # none of, so the band reduces to the key equi-join
            band_ns = None
        if band_ns is not None:
            lt_col = F.col(f"{base_name}.{base.ts_col}")
            rt_col = F.col(f"{n}.{dfs[n].ts_col}")
            if streaming:
                from varpulis_spark.operators.joins import _interval_us

                iv = _interval_us(band_ns // 1000)
                c = c & (rt_col >= lt_col - iv) & (rt_col <= lt_col + iv)
            else:
                # µs precision (unix_micros), matching pos() in sase.py — a
                # whole-second cast drops sub-second pairs straddling a
                # second boundary and keeps out-of-window ones
                c = c & (
                    F.abs(F.unix_micros(lt_col) - F.unix_micros(rt_col))
                    * F.lit(1_000)
                    <= F.lit(band_ns)
                )
        joined = joined.join(dfs[n].df.alias(n), c, "inner")

    out = Stream(joined, ts_col=base.ts_col)
    synth = StreamDecl(decl.name, [], rest)
    return _apply_relational_ops(synth, out, typed=False, env=env, resolver=qualified)


def _compile_sequence(decl: StreamDecl, stream: Stream, env: ProgramEnv) -> Stream:
    """sequence(match_all:, timeout:, alias: Type where c, ...) source
    (ast.rs:187,204-224; runtime/src/sequence.rs). match_all=true matches
    every viable combination (skip-till-any); false keeps a single active
    run per partition (skip-till-next)."""
    src: SequenceSource = decl.source
    timeout = None
    if src.timeout is not None:
        timeout = src.timeout.text if isinstance(src.timeout, Dur) else src.timeout.value
    synth = StreamDecl(decl.name, src.steps, decl.ops)
    return compile_pattern_decl(
        synth, stream, env,
        strategy=SKIP_TILL_ANY if src.match_all else SKIP_TILL_NEXT,
        within_default=timeout,
    )


def _compile_timer(decl: StreamDecl, stream: Stream, env: ProgramEnv) -> Stream:
    """timer(5s) source in replay mode: synthesize ticks spanning the input
    stream's event-time range (TimerDecl ast.rs:193-200; the streaming
    engine's live timer is varpulis_spark.streaming.timer_stream)."""
    from varpulis_spark.functions import duration_ns

    src: TimerSource = decl.source
    iv = src.interval.text if isinstance(src.interval, Dur) else src.interval.value
    iv_ns = duration_ns(iv)
    delay_ns = 0
    if src.initial_delay is not None:
        d = src.initial_delay
        delay_ns = duration_ns(d.text if isinstance(d, Dur) else d.value)
    ts_col = stream.ts_col
    # µs-precision bounds (ADVICE r2: cast('long') truncated to whole
    # seconds, misaligning sub-second event times / intervals)
    bounds = stream.df.select(
        F.unix_micros(F.min(ts_col)).alias("lo"),
        F.unix_micros(F.max(ts_col)).alias("hi"),
    ).collect()[0]
    spark = stream.df.sparkSession
    # timer events are typed Timer_<stream name> (engine/mod.rs timer
    # registration; pinned by timer_tests.rs:30)
    etype = f"Timer_{decl.name}"
    if bounds.lo is None:
        ticks = spark.range(0).select(
            F.lit(etype).alias("event_type"), F.lit(None).cast("timestamp").alias(ts_col)
        )
    else:
        iv_us = max(1, iv_ns // 1_000)
        lo_us = bounds.lo + delay_ns // 1_000
        hi_us = bounds.hi
        n = max(0, (hi_us - lo_us) // iv_us + 1)
        ticks = spark.range(int(n)).select(
            F.lit(etype).alias("event_type"),
            F.timestamp_micros(F.lit(lo_us) + F.col("id") * F.lit(iv_us)).alias(ts_col),
        )
    out = Stream(ticks, ts_col=ts_col)
    synth = StreamDecl(decl.name, [], decl.ops)
    return _apply_relational_ops(synth, out, typed=False, env=env)


# ---------------------------------------------------------------------------
# named pattern declarations (ast.rs:106-112)
# ---------------------------------------------------------------------------


def _compile_named_pattern(pdecl: PatternDecl, use: StreamDecl, stream: Stream,
                           env: ProgramEnv, env_streams: dict[str, Stream]) -> Stream:
    """`stream S = PatName .emit(...)`: apply the use-site ops to the
    declared pattern (PatternDecl ast.rs:106-112). SEQ lowers to the chain
    compiler; OR of branches unions their match streams (Or sase.rs
    disjunction); AND is order-free conjunction (AndState sase.rs:738-772)."""
    node = pdecl.node
    within = None
    if pdecl.within is not None:
        within = pdecl.within.text if isinstance(pdecl.within, Dur) else pdecl.within.value

    def steps_of(n) -> tuple[list[PatternStep], list[OpCall]]:
        """Positive steps + synthesized `.not` ops for SEQ-embedded
        negations (`SEQ(A, NOT B, C)` ≡ the global-negation guard the
        chain compiler already models for `.not()`)."""
        if isinstance(n, PatSeq):
            steps, negs = [], []
            for s in n.items:
                if isinstance(s, PatNot):
                    negs.append(OpCall("not", [dc_replace(s.operand)]))
                else:
                    steps.append(dc_replace(s))
            return steps, negs
        if isinstance(n, PatternStep):
            return [dc_replace(n)], []
        raise ValueError(f"pattern form not supported here: {n}")

    def resolve_sources(steps: list[PatternStep]) -> Stream:
        refs = {s.event_type for s in steps if s.event_type in env_streams}
        src = stream
        if refs:
            if len(refs) > 1:
                raise ValueError("pattern over multiple upstream streams not supported")
            src = env_streams[next(iter(refs))]
            for s in steps:
                if s.event_type in refs:
                    s.event_type = None
        return src

    extra_ops = []
    if within is not None:
        extra_ops.append(OpCall("within", [Dur(within) if isinstance(within, str) else Lit(within)]))

    if isinstance(node, (PatSeq, PatternStep)):
        steps, neg_ops = steps_of(node)
        src = resolve_sources(steps)
        synth = StreamDecl(use.name, steps, extra_ops + neg_ops + use.ops)
        if pdecl.partition_by:
            src = src.partition_by(pdecl.partition_by)
        return compile_pattern_decl(synth, src, env)
    if isinstance(node, PatOr):
        branches = []

        def flatten(n):
            if isinstance(n, PatOr):
                flatten(n.left)
                flatten(n.right)
            else:
                branches.append(n)

        flatten(node)
        outs = []
        for b in branches:
            steps, neg_ops = steps_of(b)
            src = resolve_sources(steps)
            synth = StreamDecl(use.name, steps, extra_ops + neg_ops + use.ops)
            if pdecl.partition_by:
                src = src.partition_by(pdecl.partition_by)
            outs.append(compile_pattern_decl(synth, src, env))
        from functools import reduce

        return Stream(
            reduce(lambda a, b: a.unionByName(b), [s.df for s in outs]),
            ts_col=stream.ts_col,
        )
    if isinstance(node, PatAnd) and (
        isinstance(node.left, PatNot) or isinstance(node.right, PatNot)
    ):
        # `(A -> B) and not C` (apama complex pattern): the negated side is
        # a guard over the positive branch's span — exactly the chain
        # compiler's global `.not()` negation
        pos, neg = (
            (node.right, node.left)
            if isinstance(node.left, PatNot)
            else (node.left, node.right)
        )
        steps, neg_ops = steps_of(pos)
        src = resolve_sources(steps)
        neg_ops.append(OpCall("not", [dc_replace(neg.operand)]))
        synth = StreamDecl(use.name, steps, extra_ops + neg_ops + use.ops)
        if pdecl.partition_by:
            src = src.partition_by(pdecl.partition_by)
        return compile_pattern_decl(synth, src, env)
    if isinstance(node, PatAnd):
        if not (isinstance(node.left, PatternStep) and isinstance(node.right, PatternStep)):
            raise ValueError("AND patterns support two event items")
        steps = [dc_replace(node.left), dc_replace(node.right)]
        src = resolve_sources(steps)
        aliases = {s.alias for s in steps if s.alias}
        sase_steps = []
        for i, s in enumerate(steps):
            alias = s.alias or f"_s{i}"
            aliases.add(alias)
            sase_steps.append(Step(
                s.event_type, alias,
                where=to_python(s.where, aliases) if s.where else None,
                where_sql=_try_sql(s.where, alias, aliases),
            ))
        last_alias = sase_steps[-1].alias
        # use-site emit + partition_by handling mirrors compile_pattern_decl
        # (r9 bug: the use-site `.partition_by(k)` was silently dropped
        # here — batch matched ACROSS keys and streaming refused to lower)
        emit_kwargs = {}
        explicit_keys: list[str] | None = None
        for op in use.ops:
            if op.name == "emit":
                emit_kwargs = op.kwargs
            elif op.name == "partition_by":
                explicit_keys = [
                    ".".join(a.parts) for a in op.args if isinstance(a, Ref)
                ]
        if explicit_keys is None and pdecl.partition_by:
            explicit_keys = [pdecl.partition_by]
        emit, lits, post = _classify_emit(emit_kwargs, aliases, set(), last_alias)
        p = Pattern(steps=sase_steps, within=within, emit=emit, any_order=True,
                    partition_by=explicit_keys)
        df = src.pattern(p).df
        for k, v in lits.items():
            df = df.withColumn(k, F.lit(v))
        for k, expr in post:
            df = df.withColumn(k, to_column(expr))
        if emit_kwargs:
            keep = list(emit_kwargs.keys())
            if "event_type" not in keep:
                df = df.withColumn("event_type", F.lit(use.name))
                keep.append("event_type")
            df = df.select(*keep)
        return Stream(df, ts_col=stream.ts_col)
    raise ValueError(f"pattern form not supported: {node}")


# ---------------------------------------------------------------------------
# program driver
# ---------------------------------------------------------------------------


def _expand_decl(decl: StreamDecl, env: ProgramEnv) -> None:
    """Apply fn-inlining + var substitution to every expression in a
    declaration (steps' wheres, op args/kwargs, incl. `.not` step args)."""

    def ex(v):
        if isinstance(v, PatternStep):
            if v.where is not None:
                v.where = expand(v.where, env)
            return v
        if isinstance(v, (Lit, Dur, Ref, Bin, Un, Call, If, ListLit)):
            return expand(v, env)
        return v

    for s in decl.steps:
        if s.where is not None:
            s.where = expand(s.where, env)
        for op in s.ops:
            if op.name == "process":
                continue  # .process args are interpreted, not inlined
            op.args = [ex(a) for a in op.args]
            op.kwargs = {k: ex(v) for k, v in op.kwargs.items()}
    for op in decl.ops:
        if op.name == "process":
            continue
        op.args = [ex(a) for a in op.args]
        op.kwargs = {k: ex(v) for k, v in op.kwargs.items()}
    if isinstance(decl.source, MergeSource):
        for p in decl.source.parts:
            if isinstance(p, PatternStep) and p.where is not None:
                p.where = expand(p.where, env)
    if isinstance(decl.source, SequenceSource):
        for p in decl.source.steps:
            if p.where is not None:
                p.where = expand(p.where, env)


def _apply_event_casts(stream: Stream, env: ProgramEnv) -> Stream:
    """Cast declared event fields present in the frame to their declared
    types; on conflicting declarations the widest type wins (double >
    long, string > anything)."""
    wanted: dict[str, str] = {}
    rank = {"boolean": 0, "long": 1, "double": 2, "string": 3}
    for name in env.events:
        for fname, ftype in env.event_fields(name):
            st = _spark_type(ftype)
            if st is None:
                continue
            cur = wanted.get(fname)
            if cur is None or rank.get(st, 0) > rank.get(cur, 0):
                wanted[fname] = st
    if not wanted:
        return stream
    df = stream.df
    cur_types = dict(df.dtypes)
    casts = {
        c: F.col(c).cast(t)
        for c, t in wanted.items()
        if c in cur_types and cur_types[c] not in (t, "timestamp")
    }
    # declared fields absent from the replay frame surface as typed nulls
    # (the reference's event decl defines the full schema; a feed may not
    # populate every field)
    missing = {
        c: F.lit(None).cast(t) for c, t in wanted.items() if c not in cur_types
    }
    casts.update(missing)
    return stream._with(df.withColumns(casts)) if casts else stream


def run_program(
    source: str, stream: Stream, tables: dict | None = None,
    sinks: dict | None = None, sources: dict | None = None,
    base_path: str | None = None,
) -> dict[str, DataFrame]:
    """Compile+run every `stream X = ...` declaration against the ingest
    Stream; returns name → result DataFrame.

    Streams may reference earlier streams by name (the dataflow DAG the
    reference wires through its event-type router, engine/router.rs:13-23)
    — here it is plain DataFrame composition. `.from(Conn, ...)` connector
    bindings are accepted and ignored in replay mode (the ingest Stream IS
    the bound source). `tables` binds connector names to dimension
    DataFrames for `.enrich` (optionally `(df, key_col)`; default key =
    first column).

    `sinks` binds connector names to sink objects (anything with
    ``write_batch(df, epoch)`` — sinks.py / sources/*, optionally wrapped
    in resilient_sink_fn): a stream's `.to(Conn)` routes its result there
    (sink_factory engine/sink_factory.rs); unbound `.to` names are ignored
    in replay mode as before.

    `sources` binds connector names to Streams (e.g. a broker bridge's
    ``.batch(...)``/``.stream(...)``): a declaration carrying
    `.from(Conn, ...)` reads from that Stream instead of the ingest
    Stream (SourceBinding, engine/types.rs:75-81); unbound names keep the
    replay behavior (ingest IS the source)."""
    prog = parse_full(source, base_path=base_path)
    env = ProgramEnv()
    env.tables = dict(tables or {})
    for f in prog.fns:
        env.fns[f.name] = f
    for e in prog.events:
        env.events[e.name] = e
    immutable: set[str] = set()
    for v in prog.vars:
        if v.assign:
            # top-level `name := v` (engine/mod.rs:448-508): load error on
            # an immutable target, implicit mutable creation otherwise
            if v.name in immutable:
                raise ValueError(
                    f"cannot assign to immutable variable {v.name!r} "
                    f"(declared let/const)"
                )
        elif v.const:
            immutable.add(v.name)
        env.vars[v.name] = _const_eval(v.value, env)
    for p in prog.patterns:
        env.patterns[p.name] = p
    for c in prog.configs:
        # `config name {...}` — deprecated alias of `connector`
        # (ast.rs:57-70): engine-global connectivity defaults. Recorded for
        # host inspection; the demos' actual I/O is wired host-side in
        # replay mode, exactly like `.from`/`.to` on unbound names.
        env.configs[c.name] = {
            k: _const_eval(v, env) for k, v in c.items.items()
        }

    stream = _apply_event_casts(stream, env)

    # file/console connectors are self-contained (no broker): auto-bind
    # them so `.to(FileOut)` writes its JSONL in replay mode like the
    # reference's sink factory, unless the host bound the name itself
    sinks = dict(sinks or {})
    for c in prog.connectors:
        if c.name in sinks:
            continue
        if c.kind == "file" and "path" in c.kwargs:
            from varpulis_spark.sinks import FileSink

            sinks[c.name] = FileSink(str(_const_eval(c.kwargs["path"], env)))
        elif c.kind == "console":
            from varpulis_spark.sinks import ConsoleSink

            sinks[c.name] = ConsoleSink()

    results: dict[str, DataFrame] = {}
    env_streams: dict[str, Stream] = {}
    base_stream = stream
    for decl in prog.streams:
        # bind `.from(Conn)` when a source Stream is supplied; otherwise
        # drop it (replay mode: the ingest Stream IS the bound source)
        stream = base_stream
        for op in decl.ops:
            if op.name == "from" and op.args and sources:
                a = op.args[0]
                nm = a.parts[0] if hasattr(a, "parts") else getattr(a, "value", None)
                if nm in sources:
                    stream = sources[nm]
        decl.ops = [op for op in decl.ops if op.name != "from"]
        _expand_decl(decl, env)

        inline_pat = next(
            (
                (i, k, v)
                for i, op in enumerate(decl.ops)
                if op.name == "pattern"
                for k, v in op.kwargs.items()
                if isinstance(v, (PatSeq, PatAnd, PatOr, PatNot, PatternStep))
            ),
            None,
        )
        if inline_pat is not None:
            # Apama-style inline pattern op (`.pattern(chain: A -> B)`,
            # integration_scenarios.rs apama tests): lower exactly like a
            # named pattern declaration used at this site. The pattern
            # analyzer observes the WHOLE ingest stream — the declared
            # source type is just the attachment anchor (the reference's
            # and/or tests match on events of OTHER types arriving first).
            i, alias, node = inline_pat
            if i > 0:
                # ops before .pattern(...) have nothing well-defined to
                # apply to (the analyzer observes the whole ingest stream);
                # silently dropping them changed match results — hard error
                # (validate.py E091 catches this pre-deploy)
                raise ValueError(
                    f"stream {decl.name}: .{decl.ops[i - 1].name} precedes "
                    f"inline .pattern(...) — ops before an inline pattern "
                    f"are not supported; move them after the pattern"
                )
            pdecl = PatternDecl(alias, node)
            use = StreamDecl(decl.name, [], decl.ops[i + 1 :])
            out = _compile_named_pattern(pdecl, use, base_stream, env, env_streams)
        elif isinstance(decl.source, MergeSource):
            out = _compile_merge(decl, stream, env, env_streams)
            synth = StreamDecl(decl.name, [], decl.ops)
            out = _apply_relational_ops(synth, out, typed=False, env=env)
        elif isinstance(decl.source, JoinSource):
            out = _compile_join(decl, stream, env, env_streams)
        elif isinstance(decl.source, SequenceSource):
            out = _compile_sequence(decl, stream, env)
        elif isinstance(decl.source, TimerSource):
            out = _compile_timer(decl, stream, env)
        elif (
            len(decl.steps) == 1 and decl.steps[0].event_type in env.patterns
            and not decl.steps[0].alias and not decl.steps[0].kleene
        ):
            out = _compile_named_pattern(
                env.patterns[decl.steps[0].event_type], decl, stream, env, env_streams
            )
        else:
            # a lone aliased step (`Order as o .enrich(...)`) is relational —
            # the alias only qualifies refs; pattern machinery is needed for
            # chains, Kleene, or global negation
            is_pattern = (
                len(decl.steps) > 1
                or any(s.kleene for s in decl.steps)
                or any(op.name == "not" for op in decl.ops)
            )
            if is_pattern:
                # steps naming declared streams run over those streams
                # (wildcard type). Multiple upstreams union with each
                # stream's NAME as the event-type tag — the event-type
                # router analog (engine/router.rs): a step matching
                # `LoginStream` matches exactly the rows that stream
                # produced.
                refs = {s.event_type for s in decl.steps if s.event_type in env_streams}
                # steps naming raw event types still read the ingest
                plain = {
                    s.event_type for s in decl.steps
                    if s.event_type and s.event_type not in env_streams
                }
                src = stream
                if len(refs) == 1 and not plain:
                    # every step reads the same derived stream
                    src = env_streams[next(iter(refs))]
                    for s in decl.steps:
                        if s.event_type in env_streams:
                            s.event_type = None
                elif refs:
                    # mixed sources (r9: `HighTemp as ht -> Ack` previously
                    # took the single-ref shortcut and ran over ONLY the
                    # derived stream, so the raw-typed Ack step starved)
                    from varpulis_spark.operators.joins import merge_frames

                    parts = [
                        env_streams[r].df.withColumn("event_type", F.lit(r))
                        for r in sorted(refs)
                    ]
                    if plain:
                        parts.append(
                            stream.df.filter(F.col("event_type").isin(sorted(plain)))
                        )
                    oc = stream.order_col
                    if not all(oc in p.columns for p in parts if oc):
                        oc = None
                    src = Stream(
                        merge_frames(*parts), ts_col=stream.ts_col, order_col=oc
                    )
                out = compile_pattern_decl(decl, src, env)
            else:
                s0 = decl.steps[0]
                if s0.event_type in env_streams:
                    src = env_streams[s0.event_type]
                    cols = set(src.df.columns)

                    def null_missing(ref, _cols=cols):
                        # derived streams are dynamically typed in the
                        # reference: a field the upstream emit didn't
                        # produce reads as null, not an analysis error
                        if len(ref.parts) == 1 and ref.parts[0] not in _cols:
                            return F.lit(None)
                        if len(ref.parts) == 2 and ref.parts[1] not in _cols:
                            return F.lit(None)  # alias-qualified missing field
                        return None

                    out = _apply_relational_ops(
                        decl, src, typed=False, env=env, resolver=null_missing
                    )
                else:
                    out = compile_relational_decl(decl, stream, env)
        # normalize: derived events always expose the envelope ts column
        # (aggregates carry window_end; the reference's events all have ts)
        ts_name = stream.ts_col
        if ts_name not in out.df.columns and out.ts_col in out.df.columns:
            # _with (not a bare Stream(...)) so the watermark flag survives
            # the re-wrap
            out = out._with(
                out.df.withColumn(ts_name, F.col(out.ts_col)), ts_col=ts_name
            )
        env_streams[decl.name] = out
        results[decl.name] = out.df
        if sinks:
            # ops may hang off the source step (single-step chains) or the
            # decl; a positional `.to(Name)` arg parses as a PatternStep
            # (the op-chain grammar), a Ref, or a Lit — all three carried
            # the connector name, but only Ref was read before r8, so
            # `sinks=` bindings silently never fired (caught porting
            # integration_scenarios.rs test_to_file_connector_basic)
            all_ops = [
                op for s in decl.steps for op in getattr(s, "ops", [])
            ] + list(decl.ops)
            for op in all_ops:
                if op.name == "to" and op.args:
                    a = op.args[0]
                    conn = (
                        getattr(a, "event_type", None)
                        or (a.parts[0] if hasattr(a, "parts") else None)
                        or getattr(a, "value", None)
                    )
                    sink = sinks.get(conn)
                    if sink is not None:
                        sink.write_batch(out.df, 0)
    return results
