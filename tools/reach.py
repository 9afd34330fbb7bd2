"""Reachability and option report: which ``sema_spark`` functions the
real entry points call, which only tests reach, and which argument
values reach each defaulted option.

    python tools/reach.py [sf_dir]

Runs, one subprocess each, with a stdlib call recorder installed
(``sys.setprofile`` + ``threading.setprofile``; ``coverage`` is not
needed):

* ``tools/check_oracles.py [sf_dir]`` (its own default dir when omitted);
* ``perfbench/run.py`` for each workload, once untraced and once traced;
* ``corpus.write_corpus``, then ``python -m sema_spark --config`` over
  the corpus it wrote (an empty TOML file: the defaults).

The ``/tmp/sema_*`` cache dirs of ``__spark_entry__.py`` are cleared
first: a cached index build would otherwise look unreached.

The recorder only sees the driver.  Code that runs inside UDF bodies
(Python workers) is counted by two static rules:

* *factory*: a function defined inside a reached function is reached
  (UDF factories return closures the driver never calls);
* *static*: a module-level ``sema_spark`` function that a reached
  function names, directly or through a module-level constant such as
  a dispatch dict, is reached (a helper called only inside UDF bodies,
  e.g. ``chunk_python`` or ``encode_batch_numpy``).

Every function reached by none of these is either listed in ``KEPT``
with a one-line reason, reached from a ``KEPT`` function by the same
two rules ("kept via"), or printed as UNREACHED with its ``file:line``.

The recorder also keeps, per parameter of every ``sema_spark`` call, up
to ``MAX_KEYS`` distinct value keys (``value_key``), and the field
values of ``sema_spark`` dataclass instances whose methods run.  The
option report lists every defaulted parameter of a reached function
and every defaulted dataclass field with the values seen.  An option
is a *selector* when its function branches on it: its name (``self.f``
for a field) is read in the test of an ``if``, ``while`` or conditional
expression, or in an ``and``/``or``.  A selector that saw one value
only is a switch no entry point flips: delete it, or give it a
one-line reason in ``KEPT_OPTIONS``.  One-valued options that select no
code path (column names, numeric constants) are listed apart and do not
change the exit status; neither do options of functions that only run
in Python workers (no values recorded).

The exit status is 1 when any UNREACHED function, one-valued selector
without a reason, or stale ``KEPT``/``KEPT_OPTIONS`` entry is left.
"""

from __future__ import annotations

import ast
import dataclasses
import glob
import json
import os
import runpy
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "sema_spark"

# unreached by every entry point above, kept on purpose: qualified name
# (``<path under sema_spark>:<qualname>``) → reason
KEPT = {
    "sources/checkpoint.py:read_lineage": "reader of the per-partition lineage rows every commit writes (BASELINE.json north rule); tests check it",
    "sources/ann_index.py:compact_ivf_index": "operator-run maintenance API; tests check it",
    "sources/ann_index.py:compact_lsh_index": "operator-run maintenance API; tests check it",
    "sources/ann_index.py:compact_semantic_index": "operator-run maintenance API; tests check it",
    "sources/ann_index.py:semantic_index_remove": "the reference watcher's remove_file_chunks (src/storage/mod.rs) for the stored index; tests check it",
}

# selectors (defaulted parameters or dataclass fields the code branches
# on) that the entry points reach with one value only, kept on purpose:
# ``<path under sema_spark>:<qualname>(<param>)`` or
# ``<path>:<class>.<field>`` → reason
KEPT_OPTIONS = {
    "operators/multimodal.py:resize_media(strict)": "the strict=False drop is the handling of undecodable outside input; the graded query runs strict",
    "operators/canonicalize.py:connected_components(driver_max_edges)": "tests set it to reach the distributed tier, the fallback above the driver budget",
    "operators/dedup.py:ngram_jaccard_pairs(max_universe)": "tests set it to reach the general verify, the fallback above the bitmap universe",
    "operators/linking.py:link_triples(fuzzy)": "the CLI's --no-fuzzy sets it (via run_pipeline(fuzzy)); the recorded CLI run uses the defaults",
    "operators/mentions.py:salted_repartition(num_partitions)": "the CLI's --salt-partitions sets it (via run_pipeline(salt_partitions)); the recorded CLI run uses the defaults",
    "config.py:PipelineConfig.include_hidden": "reference config key (src/config/mod.rs:113) read from the user's TOML; the recorded CLI run reads an empty one",
    "functions/bpe.py:bpe_encode(vocab)": "None is the one-shot encode (no driver-side precompute, see the docstring's A/B); the graded queries reuse one merge table",
}


# ------------------------------------------------------------ recording
MAX_KEYS = 8  # distinct value keys kept per parameter
_SCALARS = (type(None), bool, int, float, str)


def value_key(v) -> str:
    """Short key of one argument value: ``repr`` of a scalar (a string
    cut to 40 characters) or of a tuple/list of at most 100 scalars,
    else the type name (``DataFrame``)."""
    t = type(v)
    if t is str:
        return repr(v[:40])
    if t in _SCALARS:
        return repr(v)
    if t in (tuple, list) and len(v) <= 100 and all(type(x) in _SCALARS for x in v):
        return repr(t(x[:40] if type(x) is str else x for x in v))
    return t.__name__


def record(out: str, argv: list[str]) -> None:
    """Run ``argv`` (a script path and its args, ``-m module args`` or
    ``-c code args``) in this process and write every ``sema_spark``
    function it entered to ``out`` as ``[relpath, first line, name,
    {param: [value keys]}]`` rows.  A method call on a ``sema_spark``
    dataclass instance also records that instance's field values, as a
    ``[relpath, null, class qualname, {field: [value keys]}]`` row."""
    pkg = str(PKG) + os.sep
    seen: dict = {}  # code object -> {param: keys}, or None outside sema_spark
    fields: dict = {}  # dataclass type -> {field: keys}, or None

    def add(keys: dict, name: str, v) -> None:
        ks = keys.setdefault(name, set())
        if len(ks) < MAX_KEYS:
            ks.add(value_key(v))

    def prof(frame, event, arg):
        if event != "call":
            return
        code = frame.f_code
        params = seen.get(code, False)
        if params is False:
            params = seen[code] = {} if os.path.realpath(code.co_filename).startswith(pkg) else None
        if params is None:
            return
        loc = frame.f_locals
        for name in code.co_varnames[: code.co_argcount + code.co_kwonlyargcount]:
            if name in loc:
                add(params, name, loc[name])
        obj = loc.get("self")
        if obj is not None:
            t = type(obj)
            keys = fields.get(t, False)
            if keys is False:
                keys = fields[t] = {} if dataclasses.is_dataclass(t) and t.__module__.startswith("sema_spark") else None
            if keys is not None:
                for f in dataclasses.fields(t):
                    add(keys, f.name, getattr(obj, f.name))

    sys.argv = argv[1:] if argv[0] in ("-m", "-c") else list(argv)
    sys.path.insert(0, str(ROOT))
    sys.setprofile(prof)
    threading.setprofile(prof)
    try:
        if argv[0] == "-m":
            runpy.run_module(argv[1], run_name="__main__", alter_sys=True)
        elif argv[0] == "-c":
            exec(compile(argv[1], "<string>", "exec"), {"__name__": "__main__"})
        else:  # the script's own dir leads sys.path, as under ``python script``
            sys.path.insert(0, os.path.dirname(os.path.abspath(argv[0])))
            runpy.run_path(argv[0], run_name="__main__")
    finally:
        sys.setprofile(None)
        threading.setprofile(None)

        def rel(path):
            return os.path.relpath(os.path.realpath(path), PKG)

        rows = [
            [rel(c.co_filename), c.co_firstlineno, c.co_name, {k: sorted(v) for k, v in p.items()}]
            for c, p in list(seen.items())
            if p is not None
        ]
        rows += [
            [rel(sys.modules[t.__module__].__file__), None, t.__qualname__, {k: sorted(v) for k, v in p.items()}]
            for t, p in list(fields.items())
            if p is not None
        ]
        with open(out, "w") as f:
            json.dump(rows, f)


_WRITE_CORPUS = (
    "import sys\n"
    "from sema_spark.corpus import write_corpus\n"
    "from sema_spark.session import get_spark\n"
    "write_corpus(get_spark(app_name='reach-corpus', cores=2), sys.argv[1], 'xs')"
)


def _runs(sf_dir: list[str], work: str) -> list[tuple[str, list[str]]]:
    corpus, base, config = f"{work}/corpus", f"{work}/kg", f"{work}/config.toml"
    open(config, "w").close()
    runs = [("check_oracles", ["tools/check_oracles.py", *sf_dir])]
    for wl in ("kg_build_refresh", "search_dedup"):
        for trace in ("0", "1"):
            runs.append(
                (
                    f"perfbench {wl} trace={trace}",
                    ["perfbench/run.py", "--workload", wl, "--seed", "1", "--seconds", "6", "--trace", trace],
                )
            )
    runs.append(("write_corpus", ["-c", _WRITE_CORPUS, corpus]))
    runs.append(
        (
            "python -m sema_spark",
            ["-m", "sema_spark", "--src", corpus, "--base", base, "--config", config, "--stats"],
        )
    )
    return runs


# ------------------------------------------------------------- analysis
class Fn:
    def __init__(self, rel, qual, node, parent, cls=None):
        self.rel, self.qual, self.node, self.parent, self.cls = rel, qual, node, parent, cls
        self.line = node.lineno
        self.first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        self.how = None  # recorded | factory | static | kept | "via <kept fn>" | None

    @property
    def key(self):
        return f"{self.rel}:{self.qual}"


class Dataclass:
    def __init__(self, rel, qual, node):
        self.rel, self.qual, self.node, self.line = rel, qual, node, node.lineno
        self.fields = {  # field -> default source, for fields with a default
            st.target.id: ast.unparse(st.value)
            for st in node.body
            if isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name) and st.value is not None
        }


def _is_dataclass(node) -> bool:
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if (d.id if isinstance(d, ast.Name) else getattr(d, "attr", None)) == "dataclass":
            return True
    return False


def _index():
    """Every function def and dataclass under ``sema_spark/``; per module,
    its top-level defs, its top-level constants (``NAME = <expr>``) and
    the names it imports from ``sema_spark`` (a function, or a module
    used as ``mod.f``)."""
    fns: list[Fn] = []
    classes: list[Dataclass] = []
    mods: dict[str, dict] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text(), str(path))
        mod = mods[rel] = {"top": {}, "consts": {}, "imports": {}}

        def walk(node, prefix, parent, cls=None):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fn = Fn(rel, prefix + child.name, child, parent, cls)
                    fns.append(fn)
                    if parent is None and not prefix:
                        mod["top"][child.name] = fn
                    walk(child, f"{fn.qual}.<locals>.", fn)
                elif isinstance(child, ast.ClassDef):
                    dc = None
                    if _is_dataclass(child):
                        dc = Dataclass(rel, prefix + child.name, child)
                        classes.append(dc)
                    walk(child, f"{prefix}{child.name}.", parent, dc)
                else:
                    walk(child, prefix, parent, cls)

        walk(tree, "", None)
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    if isinstance(t, ast.Name):
                        mod["consts"][t.id] = node.value
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("sema_spark"):
                for a in node.names:
                    pkg = node.module.replace(".", "/")[len("sema_spark/"):]
                    sub = f"{pkg}/{a.name}.py".lstrip("/")
                    target = ("module", sub) if (PKG / sub).exists() else ("name", f"{pkg or '__init__'}.py", a.name)
                    mod["imports"][a.asname or a.name] = target
    return fns, classes, mods


def _named(rel: str, tree, mods, seen=None) -> list[Fn]:
    """Top-level ``sema_spark`` functions that ``tree`` (code of module
    ``rel``) names, directly or through a top-level constant."""
    seen = set() if seen is None else seen
    out = []

    def resolve(mrel, name):
        m = mods.get(mrel)
        if m is None:
            return
        if name in m["top"]:
            out.append(m["top"][name])
        elif name in m["consts"] and (mrel, name) not in seen:
            seen.add((mrel, name))
            out.extend(_named(mrel, m["consts"][name], mods, seen))

    imports = mods[rel]["imports"]
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            target = imports.get(node.id)
            if target and target[0] == "name":
                resolve(target[1], target[2])
            elif not target:
                resolve(rel, node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            target = imports.get(node.value.id)
            if target and target[0] == "module":
                resolve(target[1], node.attr)
    return out


def _spread(fns: list[Fn], mods, roots: list[Fn], label) -> None:
    """Mark every unmarked function defined in or named by a marked one,
    starting from ``roots``: ``label(root, nested)`` gives the mark."""
    children: dict[int, list[Fn]] = {}
    for f in fns:
        if f.parent is not None:
            children.setdefault(id(f.parent), []).append(f)
    work = [(fn, fn) for fn in roots]
    while work:
        fn, root = work.pop()
        nested = [(c, True) for c in children.get(id(fn), [])]
        for target, is_nested in nested + [(t, False) for t in _named(fn.rel, fn.node, mods)]:
            if target.how is None:
                target.how = label(root, is_nested)
                work.append((target, root))


def analyze(recorded) -> tuple[list[Fn], list[Dataclass]]:
    """Mark every function with how it is reached (see the module doc);
    ``recorded`` holds ``(relpath, first line)`` pairs."""
    fns, classes, mods = _index()
    for fn in fns:
        if (fn.rel, fn.first) in recorded or (fn.rel, fn.line) in recorded:
            fn.how = "recorded"
    _spread(fns, mods, [f for f in fns if f.how], lambda root, nested: "factory" if nested else "static")
    kept = [f for f in fns if f.how is None and f.key in KEPT]
    for fn in kept:
        fn.how = "kept"
    _spread(fns, mods, kept, lambda root, nested: f"via {root.qual}")
    return fns, classes


# -------------------------------------------------------------- options
class Option:
    def __init__(self, key, where, default, selector, values):
        self.key, self.where, self.default, self.selector = key, where, default, selector
        self.values = values  # sorted value keys seen, or None: not recorded


def _defaults(node) -> dict[str, str]:
    """Parameter -> default source, for the defaulted parameters of a def."""
    a = node.args
    pos = a.posonlyargs + a.args
    out = {p.arg: ast.unparse(d) for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: ast.unparse(d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _branch_names(node) -> set[str]:
    """Names read in a branch test of ``node``: the test of an ``if``,
    ``while`` or conditional expression, or an ``and``/``or``, in its body
    or in a nested function that does not rebind the name as its own
    parameter.  ``self.x`` is reported as ``self.x``."""
    out: set[str] = set()

    def visit(n, shadow):
        for c in ast.iter_child_nodes(n):
            if isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = c.args
                own = a.posonlyargs + a.args + a.kwonlyargs + [x for x in (a.vararg, a.kwarg) if x]
                visit(c, shadow | {x.arg for x in own})
                continue
            if isinstance(c, (ast.If, ast.While, ast.IfExp)):
                test = c.test
            else:
                test = c if isinstance(c, ast.BoolOp) else None
            for m in ast.walk(test) if test is not None else ():
                if isinstance(m, ast.Name) and m.id not in shadow:
                    out.add(m.id)
                elif isinstance(m, ast.Attribute) and isinstance(m.value, ast.Name) and m.value.id == "self":
                    out.add(f"self.{m.attr}")
            visit(c, shadow)

    visit(node, frozenset())
    return out


def options(fns: list[Fn], classes: list[Dataclass], values: dict) -> list[Option]:
    """Every defaulted parameter of a reached function and every defaulted
    field of a ``sema_spark`` dataclass, with the value keys the runs
    recorded for it (``values``: ``(relpath, first line or class
    qualname)`` -> ``{param: keys}``)."""
    out = []
    for fn in fns:
        defaults = _defaults(fn.node)
        if not defaults or fn.how not in ("recorded", "factory", "static"):
            continue
        branch = _branch_names(fn.node)
        seen = values.get((fn.rel, fn.first)) or values.get((fn.rel, fn.line)) or {}
        for name, default in defaults.items():
            out.append(
                Option(
                    f"{fn.rel}:{fn.qual}({name})", f"sema_spark/{fn.rel}:{fn.line}", default,
                    name in branch, sorted(seen[name]) if name in seen else None,
                )
            )
    for dc in classes:
        branch = set().union(*(_branch_names(f.node) for f in fns if f.cls is dc))
        seen = values.get((dc.rel, dc.qual), {})
        for name, default in dc.fields.items():
            out.append(
                Option(
                    f"{dc.rel}:{dc.qual}.{name}", f"sema_spark/{dc.rel}:{dc.line}", default,
                    f"self.{name}" in branch, sorted(seen[name]) if name in seen else None,
                )
            )
    return out


def _shown(o: Option) -> str:
    vals = " | ".join(v if len(v) <= 60 else v[:57] + "..." for v in o.values or [])
    more = " | ..." if o.values and len(o.values) >= MAX_KEYS else ""
    return f"  {o.where} {o.key.split(':', 1)[1]} = {o.default}: {vals}{more}"


def option_report(opts: list[Option]) -> int:
    """Print the option report; the number of one-valued selectors
    without a ``KEPT_OPTIONS`` reason plus stale ``KEPT_OPTIONS`` entries."""
    one = [o for o in opts if o.values is not None and len(o.values) == 1]
    unrecorded = [o for o in opts if o.values is None]
    sel_one = [o for o in one if o.selector]
    fields = sum("(" not in o.key for o in opts)
    print(
        f"Option report: {len(opts) - fields} defaulted parameters of reached functions + "
        f"{fields} defaulted dataclass fields = {len(opts)} options; "
        f"{sum(o.selector for o in opts)} selectors"
    )
    print(
        f"  recorded with 2+ values {len(opts) - len(one) - len(unrecorded)}, one value {len(one)} "
        f"({len(sel_one)} selectors, {len(one) - len(sel_one)} select no code path), "
        f"not recorded {len(unrecorded)}"
    )
    print("selectors (the function branches on them), values seen:")
    for o in opts:
        if o.selector and o.values is not None and len(o.values) > 1:
            print(_shown(o))
    print("other options with 2+ values seen:")
    for o in opts:
        if not o.selector and o.values is not None and len(o.values) > 1:
            print(_shown(o))
    print("one-valued selectors kept with a reason:")
    for o in sel_one:
        if o.key in KEPT_OPTIONS:
            print(f"{_shown(o)} — {KEPT_OPTIONS[o.key]}")
    bad = [o for o in sel_one if o.key not in KEPT_OPTIONS]
    print("ONE-VALUED SELECTORS:" if bad else "ONE-VALUED SELECTORS: none")
    for o in bad:
        print(_shown(o))
    print("selects no code path (one value seen):")
    for o in one:
        if not o.selector:
            print(_shown(o))
    print("not recorded (the function runs in Python workers only, or the dataclass has no method call):")
    for o in unrecorded:
        print(f"  {o.where} {o.key.split(':', 1)[1]} = {o.default}{' (selector)' if o.selector else ''}")
    stale = sorted(set(KEPT_OPTIONS) - {o.key for o in sel_one})
    for key in stale:
        print(f"  stale KEPT_OPTIONS entry (not a one-valued selector, or gone): {key}")
    return len(bad) + len(stale)


def report(fns: list[Fn], runs: list[str]) -> int:
    counts = {h: sum(f.how == h for f in fns) for h in ("recorded", "factory", "static", "kept")}
    via = [f for f in fns if f.how and f.how.startswith("via ")]
    left = [f for f in fns if f.how is None]
    print(f"reach: {len(fns)} sema_spark functions over {len(runs)} runs ({', '.join(runs)})")
    print(
        f"  recorded {counts['recorded']}, factory {counts['factory']}, static {counts['static']}, "
        f"kept with reason {counts['kept']} (+{len(via)} via them), unreached {len(left)}"
    )
    print("per module: recorded / factory / static / kept (incl. via) / unreached")
    for rel in sorted({f.rel for f in fns}):
        mine = [f for f in fns if f.rel == rel]
        row = [sum(f.how == h for f in mine) for h in ("recorded", "factory", "static")]
        row += [sum(bool(f.how) and (f.how == "kept" or f.how.startswith("via ")) for f in mine)]
        row += [sum(f.how is None for f in mine)]
        print(f"  sema_spark/{rel}: {' / '.join(map(str, row))}")
    print("static (named by a reached function; runs in UDF bodies or is not seen by the profiler):")
    for f in fns:
        if f.how == "static":
            print(f"  sema_spark/{f.rel}:{f.line} {f.qual}")
    print("kept (unreached, with reason):")
    for f in fns:
        if f.how == "kept":
            print(f"  sema_spark/{f.rel}:{f.line} {f.qual} — {KEPT[f.key]}")
    for f in via:
        print(f"  sema_spark/{f.rel}:{f.line} {f.qual} — {f.how}")
    print("UNREACHED:" if left else "UNREACHED: none")
    for f in left:
        print(f"  sema_spark/{f.rel}:{f.line} {f.qual}")
    stale = sorted(set(KEPT) - {f.key for f in fns if f.how == "kept"})
    for key in stale:
        print(f"  stale KEPT entry (reached or gone): {key}")
    return len(left) + len(stale)


def collect(runs: list[tuple[str, list[str]]], work: str) -> dict | None:
    """Record each run in its own subprocess; the merged value keys,
    ``(relpath, first line or class qualname)`` -> ``{param: keys}``, or
    None when a run failed."""
    values: dict = {}
    for i, (label, cmd) in enumerate(runs):
        out, log = f"{work}/run{i}.json", f"{work}/run{i}.log"
        t = time.time()
        with open(log, "w") as f:
            proc = subprocess.run(
                [sys.executable, __file__, "--record", out, "--", *cmd],
                cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
            )
        if proc.returncode != 0 or not os.path.exists(out):
            print(f"reach: {label} failed (exit {proc.returncode}); last output:", file=sys.stderr)
            with open(log) as f:
                print("".join(f.readlines()[-30:]), file=sys.stderr)
            return None
        with open(out) as f:
            for rel, line, name, params in json.load(f):
                mine = values.setdefault((rel, name if line is None else line), {})
                for p, keys in params.items():
                    ks = mine.setdefault(p, set())
                    for k in keys:
                        if len(ks) < MAX_KEYS:
                            ks.add(k)
        print(f"reach: {label}: {time.time() - t:.0f} s", file=sys.stderr)
    return values


def main(argv: list[str]) -> int:
    if argv[:1] == ["--record"]:
        record(argv[1], argv[3:] if argv[2] == "--" else argv[2:])
        return 0
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "sema_*")):
        shutil.rmtree(d, ignore_errors=True)
    work = tempfile.mkdtemp(prefix="reach-")
    try:
        runs = _runs(argv[:1], work)
        values = collect(runs, work)
        if values is None:
            return 2
        fns, classes = analyze(values)
        bad = report(fns, [label for label, _ in runs])
        bad += option_report(options(fns, classes, values))
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
