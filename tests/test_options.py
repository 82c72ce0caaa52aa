"""Options census: every defaulted parameter of the package's public
module-level functions must be set by some call from an entry point.

The census parses every ``.py`` file of the repo (this file excepted) with
``ast`` and binds each call that resolves to a package function to that
function's parameters, by position or keyword. Only calls outside test
modules count: the package, the entry point, the benches and the tools. A
call from a test sets nothing, because an option is justified only when
two callers that are not tests need different values. A call does not set
a parameter when it passes a literal equal to the callee's default,
forwards ``**kw``, or forwards the caller's own parameter of the same name
and default -- that forward sets it only if some call sets the caller's
parameter, repeated until nothing changes. A defaulted parameter no call
sets is a constant in disguise: inline it. ``KEEP`` names the options kept
on purpose, each with its reason; an entry that an entry-point call now
sets is stale and fails the census too.

A second census, over the same parse, asks the same of definitions: every
module-level function, class or constant of the package must be reached
from an entry point (a non-test file outside the package, or a module-level
statement of the package), directly or through other reached definitions.
Code only tests reach is a reference, and lives in ``tests/``.
``KEEP_LIVE`` lists the definitions kept on purpose.

Run ``python tests/test_options.py [repo_root]`` for the per-module table
and the unreached definitions.
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "politics_crawler_spark"

_LIVE = (
    "the live page source (the reference's P1-P6 fetch); no entry point "
    "crawls live, see KEEP_LIVE"
)
_FETCH_POLICY = "the live stage's P2/P6/P3 policy; no entry point crawls live"
_SYNTH_SIZE = "the size of a synthetic corpus; tests build small ones"

# Options only tests set, kept on purpose: label -> reason.
KEEP = {
    "job.main(argv)": "the command line",
    "operators.dedup.connected_min_reps(max_iters)": (
        "a fault bound; a test drives its non-convergence error"
    ),
    "operators.fetch.make_fetch_stage(transport)": "the test fake for the network",
    "operators.fetch.make_fetch_stage(sleep)": "the test fake for the clock",
    "operators.fetch.make_fetch_stage(timeout_s)": _FETCH_POLICY,
    "operators.fetch.make_fetch_stage(max_attempts)": _FETCH_POLICY,
    "operators.fetch.make_fetch_stage(min_bytes)": _FETCH_POLICY,
    "operators.fetch.make_fetch_stage(min_interval_s)": _FETCH_POLICY,
    "plans.crawl.run_crawl(fetcher)": _LIVE,
    "streaming.cadence.crawl_tick(fetcher)": _LIVE,
    "streaming.cadence.crawl_cadence(fetcher)": _LIVE,
    "plans.crawl.run_crawl(robots)": "the P12 gate's table; no entry point has robots data",
    "plans.crawl.run_crawl(keep_lineage)": (
        "the crawl-order check reads these columns, and the reference's "
        "post row does not carry them"
    ),
    "sources.synthetic_embeddings.embeddings_np(n)": _SYNTH_SIZE,
    "sources.synthetic_embeddings.exact_topk_np(n)": _SYNTH_SIZE,
    "sources.synthetic_embeddings.synthesize_embeddings(n)": _SYNTH_SIZE,
    "sources.synthetic_embeddings.synthesize_neardup_embeddings(n)": _SYNTH_SIZE,
    "sources.synthetic_pages.synthesize_pages_pandas(replicas)": _SYNTH_SIZE,
}

# The only live page source run_crawl(fetcher=...) takes (the reference's
# P1-P6 fetch); no entry point crawls live, and wiring one into job.py
# would add an option.
KEEP_LIVE = {
    "operators.fetch.make_fetch_stage",
}


class _Module:
    def __init__(self, root: Path, path: Path):
        parts = list(path.relative_to(root).with_suffix("").parts)
        is_init = parts[-1] == "__init__"
        if is_init:
            parts.pop()
        self.name = ".".join(parts)
        self.tree = ast.parse(path.read_text(), str(path))
        self.alias = self._imports(self.name if is_init else self.name.rpartition(".")[0])

    def _imports(self, package: str) -> dict[str, str]:
        """alias -> dotted target (a module or a function), file-wide."""
        out: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    head = a.name.split(".")[0]
                    out[a.asname or head] = a.name if a.asname else head
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = package.split(".")
                    up = up[: len(up) - (node.level - 1)]
                    base = ".".join(up + ([base] if base else []))
                for a in node.names:
                    out[a.asname or a.name] = f"{base}.{a.name}"
        return out

    def qualify(self, node) -> str | None:
        """Dotted repo-wide name of a Name/Attribute expression."""
        name = _dotted(node)
        if name is None:
            return None
        head, _, rest = name.partition(".")
        if head in self.alias:
            return self.alias[head] + (f".{rest}" if rest else "")
        return f"{self.name}.{name}"


def _value(node):
    """A comparable value: the literal with its type, else the source."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return ("src", ast.unparse(node))
    return ("lit", type(v), v)


def _dotted(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return head and f"{head}.{node.attr}"
    return None


class _Func:
    def __init__(self, module: _Module, node: ast.FunctionDef):
        self.module, self.name = module.name, node.name
        a = node.args
        pos = a.posonlyargs + a.args
        self.positional = [x.arg for x in pos]
        self.defaults = {}  # param -> comparable value of its default
        for x, d in zip(pos[len(pos) - len(a.defaults):], a.defaults):
            self.defaults[x.arg] = _value(d)
        for x, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                self.defaults[x.arg] = _value(d)

    @property
    def public(self) -> bool:
        return not self.name.startswith("_")

    def label(self, param: str) -> str:
        return f"{self.module[len(PKG) + 1:]}.{self.name}({param})"


def _modules(root: Path) -> dict[str, _Module]:
    """Every ``.py`` file of the repo at ``root`` but this one, by module name."""
    me = Path(__file__).resolve()
    modules = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).parts
        if any(p.startswith(".") or p == "__pycache__" for p in rel) or path.resolve() == me:
            continue
        m = _Module(root, path)
        modules[m.name] = m
    return modules


def census(root: Path = ROOT):
    """Return ``(functions, unset)`` for the repo at ``root``:
    ``functions`` maps "module.name" to a ``_Func`` for every module-level
    function of the package (private ones too: they carry forwards), and
    ``unset`` holds the ``(key, param)`` pairs no call sets."""
    modules = _modules(root)
    funcs: dict[str, _Func] = {}
    for m in modules.values():
        if m.name.split(".")[0] == PKG:
            for node in m.tree.body:
                if isinstance(node, ast.FunctionDef):
                    funcs[f"{m.name}.{node.name}"] = _Func(m, node)

    passed: set[tuple[str, str]] = set()
    forwards: dict[tuple[str, str], set[tuple[str, str]]] = defaultdict(set)

    def bind(m: _Module, call: ast.Call, enclosing: str | None, outer: dict):
        key = m.qualify(call.func)
        if key not in funcs:
            return
        f = funcs[key]
        bound = []
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred) or i >= len(f.positional):
                break
            bound.append((f.positional[i], arg))
        bound += [(k.arg, k.value) for k in call.keywords if k.arg is not None]
        for param, arg in bound:
            if param not in f.defaults or _value(arg) == f.defaults[param]:
                continue
            if isinstance(arg, ast.Name) and arg.id == param and outer.get(param) == f.defaults[param]:
                if enclosing is not None:
                    forwards[(enclosing, param)].add((key, param))
                continue
            passed.add((key, param))

    def visit(m: _Module, node, enclosing: str | None, outer: dict):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                key = f"{m.name}.{getattr(child, 'name', '')}"
                if node is m.tree and key in funcs:
                    visit(m, child, key, funcs[key].defaults)
                else:
                    # a closure still sees the outer parameters it does not
                    # shadow; any other function forwards nothing
                    a = child.args
                    own = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                    rest = {p: d for p, d in outer.items() if p not in own}
                    visit(m, child, enclosing if rest else None, rest)
                continue
            if isinstance(child, ast.Call):
                bind(m, child, enclosing, outer)
            visit(m, child, enclosing, outer)

    for m in modules.values():
        if not _is_test(m.name):
            visit(m, m.tree, None, {})

    live, todo = set(passed), list(passed)
    while todo:
        for nxt in forwards.get(todo.pop(), ()):
            if nxt not in live:
                live.add(nxt)
                todo.append(nxt)
    unset = {(k, p) for k, f in funcs.items() for p in f.defaults if (k, p) not in live}
    return funcs, unset


def _unset_labels(funcs, unset) -> list[str]:
    return sorted(
        funcs[k].label(p) for k, p in unset if funcs[k].public and funcs[k].label(p) not in KEEP
    )


def table(root: Path = ROOT) -> str:
    """Per-module census: public functions, defaulted parameters, unset."""
    funcs, unset = census(root)
    rows = defaultdict(lambda: [0, 0, 0])
    for k, f in funcs.items():
        if f.public:
            r = rows[f.module[len(PKG) + 1:]]
            r[0] += 1
            r[1] += len(f.defaults)
    for label in _unset_labels(funcs, unset):
        rows[label.rpartition("(")[0].rpartition(".")[0]][2] += 1
    lines = [f"{'module':30s} {'funcs':>5s} {'defaulted':>9s} {'unset':>5s}"]
    for m in sorted(rows):
        lines.append(f"{m:30s} {rows[m][0]:5d} {rows[m][1]:9d} {rows[m][2]:5d}")
    tot = [sum(r[i] for r in rows.values()) for i in range(3)]
    lines.append(f"{'total':30s} {tot[0]:5d} {tot[1]:9d} {tot[2]:5d}")
    return "\n".join(lines)


def _is_test(name: str) -> bool:
    parts = name.split(".")
    return parts[0] == "tests" or parts[-1] == "conftest" or parts[-1].startswith("test_")


def _resolve(modules: dict[str, _Module], name: str) -> str:
    """Follow a name imported into a module to where it is defined."""
    for _ in range(len(modules)):
        parts = name.split(".")
        for i in range(len(parts) - 1, 0, -1):
            m = modules.get(".".join(parts[:i]))
            if m is not None:
                break
        else:
            return name
        target = m.alias.get(parts[i])
        if target is None or target == ".".join(parts[: i + 1]):
            return name
        name = ".".join([target] + parts[i + 1:])
    return name


def _references(m: _Module, nodes) -> set[str]:
    """Dotted names the nodes reference, ``getattr(x, "name")`` included."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Call) and _dotted(n.func) == "getattr" and len(n.args) > 1:
                attr = n.args[1]
                if isinstance(attr, ast.Constant) and isinstance(attr.value, str):
                    n = ast.Attribute(value=n.args[0], attr=attr.value)
            if isinstance(n, (ast.Name, ast.Attribute)) and (q := m.qualify(n)):
                out.add(q)
    return out


def _assigned_names(node) -> list[str]:
    """The names a module-level assignment binds (dunders excepted), or
    ``[]`` for any other statement."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    return [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        and not n.id.startswith("__")
    ]


def unreached(root: Path = ROOT) -> dict[str, int]:
    """Package definitions no entry point reaches, with their line counts.

    A module-level function, class or constant (a name a module-level
    assignment binds) of the package is live when a root or a live
    definition references it, repeated until nothing changes. The roots
    are every non-test file outside the package, the package's other
    module-level statements and decorators, and ``KEEP_LIVE``."""
    modules = _modules(root)
    defs: dict[str, tuple[_Module, ast.AST]] = {}
    roots: list[tuple[_Module, list]] = []
    for m in modules.values():
        if m.name.split(".")[0] != PKG:
            if not _is_test(m.name):
                roots.append((m, [m.tree]))
            continue
        for node in m.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{m.name}.{node.name}"] = (m, node)
                roots.append((m, node.decorator_list))
            elif names := _assigned_names(node):
                for name in names:
                    defs[f"{m.name}.{name}"] = (m, node)
            else:
                roots.append((m, [node]))

    def reached(m: _Module, nodes) -> set[str]:
        out = set()
        for name in _references(m, nodes):
            parts = _resolve(modules, name).split(".")
            out |= {k for i in range(1, len(parts) + 1) if (k := ".".join(parts[:i])) in defs}
        return out

    live = {f"{PKG}.{k}" for k in KEEP_LIVE}
    for m, nodes in roots:
        live |= reached(m, nodes)
    todo = list(live & defs.keys())
    while todo:
        m, node = defs[todo.pop()]
        body = [v for f, v in ast.iter_fields(node) if f != "decorator_list"]
        nodes = [n for v in body for n in (v if isinstance(v, list) else [v]) if isinstance(n, ast.AST)]
        for k in reached(m, nodes) - live:
            live.add(k)
            todo.append(k)
    return {
        k[len(PKG) + 1:]: node.end_lineno - node.lineno + 1
        for k, (_, node) in defs.items() if k not in live
    }


def test_every_defaulted_parameter_is_set_by_some_call():
    labels = _unset_labels(*census())
    assert not labels, (
        f"{len(labels)} defaulted parameters are set by no call; "
        "inline each as a constant:\n  " + "\n  ".join(labels)
    )


def test_keep_list_names_defaulted_parameters():
    funcs, _ = census()
    known = {f.label(p) for f in funcs.values() for p in f.defaults}
    assert KEEP.keys() <= known, sorted(KEEP.keys() - known)


def test_keep_list_has_no_stale_entry():
    funcs, unset = census()
    stale = sorted(KEEP.keys() - {funcs[k].label(p) for k, p in unset})
    assert not stale, (
        f"{len(stale)} KEEP entries are set by an entry-point call; "
        "drop each from KEEP:\n  " + "\n  ".join(stale)
    )


def test_every_package_definition_is_reached_from_an_entry_point():
    dead = unreached()
    assert not dead, (
        f"{len(dead)} package definitions ({sum(dead.values())} lines) are reached "
        "from no entry point, only from tests or not at all; delete each, or move "
        "a test-only reference into tests/:\n  "
        + "\n  ".join(f"{k} ({n} lines)" for k, n in sorted(dead.items()))
    )


def test_keep_live_names_package_definitions():
    for k in KEEP_LIVE:
        module, _, name = k.rpartition(".")
        path = ROOT / PKG / (module.replace(".", "/") + ".py")
        tree = ast.parse(path.read_text())
        assert any(getattr(n, "name", None) == name for n in tree.body), k


if __name__ == "__main__":
    root = Path(sys.argv[1]).resolve() if len(sys.argv) > 1 else ROOT
    print(table(root))
    for k, n in sorted(unreached(root).items()):
        print(f"unreached {k} ({n} lines)")
