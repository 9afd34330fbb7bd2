"""Reachability report: which ``sema_spark`` functions the real entry
points call, and which only tests reach.

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
The exit status is 1 when any UNREACHED function or stale ``KEPT``
entry is left.
"""

from __future__ import annotations

import ast
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


# ------------------------------------------------------------ recording
def record(out: str, argv: list[str]) -> None:
    """Run ``argv`` (a script path and its args, ``-m module args`` or
    ``-c code args``) in this process and write every ``sema_spark``
    function it entered to ``out`` as ``[relpath, first line, name]``
    rows."""
    seen: set = set()

    def prof(frame, event, arg):
        if event == "call":
            seen.add(frame.f_code)

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
        pkg = str(PKG) + os.sep
        rows = sorted(
            {
                (os.path.relpath(os.path.realpath(c.co_filename), PKG), c.co_firstlineno, c.co_name)
                for c in list(seen)
                if os.path.realpath(c.co_filename).startswith(pkg)
            }
        )
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
    def __init__(self, rel, qual, node, parent):
        self.rel, self.qual, self.node, self.parent = rel, qual, node, parent
        self.line = node.lineno
        self.first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        self.how = None  # recorded | factory | static | kept | "via <kept fn>" | None

    @property
    def key(self):
        return f"{self.rel}:{self.qual}"


def _index():
    """Every function def under ``sema_spark/``; per module, its top-level
    defs, its top-level constants (``NAME = <expr>``) and the names it
    imports from ``sema_spark`` (a function, or a module used as
    ``mod.f``)."""
    fns: list[Fn] = []
    mods: dict[str, dict] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text(), str(path))
        mod = mods[rel] = {"top": {}, "consts": {}, "imports": {}}

        def walk(node, prefix, parent):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fn = Fn(rel, prefix + child.name, child, parent)
                    fns.append(fn)
                    if parent is None and not prefix:
                        mod["top"][child.name] = fn
                    walk(child, f"{fn.qual}.<locals>.", fn)
                elif isinstance(child, ast.ClassDef):
                    walk(child, f"{prefix}{child.name}.", parent)
                else:
                    walk(child, prefix, parent)

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
    return fns, mods


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


def analyze(recorded: set) -> list[Fn]:
    """Mark every function with how it is reached (see the module doc)."""
    fns, mods = _index()
    for fn in fns:
        if (fn.rel, fn.first) in recorded or (fn.rel, fn.line) in recorded:
            fn.how = "recorded"
    _spread(fns, mods, [f for f in fns if f.how], lambda root, nested: "factory" if nested else "static")
    kept = [f for f in fns if f.how is None and f.key in KEPT]
    for fn in kept:
        fn.how = "kept"
    _spread(fns, mods, kept, lambda root, nested: f"via {root.qual}")
    return fns


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
    return 1 if left or stale else 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["--record"]:
        record(argv[1], argv[3:] if argv[2] == "--" else argv[2:])
        return 0
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "sema_*")):
        shutil.rmtree(d, ignore_errors=True)
    work = tempfile.mkdtemp(prefix="reach-")
    try:
        recorded: set = set()
        runs = _runs(argv[:1], work)
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
                return 2
            with open(out) as f:
                recorded |= {(rel, line) for rel, line, _ in json.load(f)}
            print(f"reach: {label}: {time.time() - t:.0f} s", file=sys.stderr)
        return report(analyze(recorded), [label for label, _ in runs])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
