"""Defaulted-parameter scan: which values reach each settable parameter.

For every public top-level function in the modules under a path, list
its defaulted parameters and the distinct argument expressions that
reach each one from the calls in the package, ``tools/``, ``tests/``,
``perfbench/`` and ``bench.py`` (positional or keyword). A call that
leaves a parameter out reaches it with its default; so does an
argument whose value (a literal, or a name bound to a literal at the
top of its module or imported from one) equals the default. A
parameter that only its default reaches is marked ``default-only``;
the totals line counts them.

Calls are found through imports (``from M import f``, ``M.f`` after
``from P import M`` or ``import P.M as M``) and, inside the defining
module, by bare name. A call that spreads ``*args``/``**kwargs`` reaches
every parameter it does not name with an unknown value, unless it
spreads a name bound once in its file to a ``dict(...)`` or ``{...}``
of keyword values, whose entries count as keywords.

Usage: python tools/param_values.py [path]   (default: the operators)
"""

from __future__ import annotations

import ast
import os
import sys

CALLERS = (
    "audios_to_dataset_spark", "tools", "tests", "perfbench", "bench.py",
)
UNKNOWN = object()


def files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    return sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(root) for f in names if f.endswith(".py")
    )


def parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def module_name(path: str) -> str:
    parts = os.path.normpath(path)[:-3].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def absolute(mod: str, node: ast.ImportFrom, is_pkg: bool) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    base = base[:len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def literals(tree: ast.Module) -> dict[str, object]:
    """Top-level ``NAME = <literal>`` bindings of one module."""
    out = {}
    for node in tree.body:
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            try:
                out[node.targets[0].id] = ast.literal_eval(node.value)
            except ValueError:
                pass
    return out


class Source:
    """One parsed caller file: its imports and its literal constants."""

    def __init__(self, path: str, tree: ast.Module,
                 consts: dict[str, dict[str, object]]):
        self.mod, self.tree = module_name(path), tree
        is_pkg = path.endswith("__init__.py")
        self.names: dict[str, tuple[str, str]] = {}  # local -> (module, name)
        self.modules: dict[str, str] = {}            # alias -> module
        for node in ast.walk(self.tree):
            if isinstance(node, ast.ImportFrom):
                src = absolute(self.mod, node, is_pkg)
                for a in node.names:
                    local = a.asname or a.name
                    self.names[local] = (src, a.name)
                    self.modules[local] = f"{src}.{a.name}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.modules[a.asname] = a.name
        self.dicts: dict[str, list[tuple[str, ast.expr]] | None] = {}
        for node in ast.walk(self.tree):
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                name, v = node.targets[0].id, node.value
                items = None
                if (isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
                        and v.func.id == "dict" and not v.args
                        and all(k.arg for k in v.keywords)):
                    items = [(k.arg, k.value) for k in v.keywords]
                elif isinstance(v, ast.Dict) and all(
                        isinstance(k, ast.Constant)
                        and isinstance(k.value, str) for k in v.keys):
                    items = [(k.value, e) for k, e in zip(v.keys, v.values)]
                self.dicts[name] = None if name in self.dicts else items
        self.consts = dict(consts.get(self.mod, {}))
        for local, (src, name) in self.names.items():
            if name in consts.get(src, {}):
                self.consts.setdefault(local, consts[src][name])

    def value(self, expr: ast.expr) -> object:
        try:
            return ast.literal_eval(expr)
        except ValueError:
            pass
        if isinstance(expr, ast.Name) and expr.id in self.consts:
            return self.consts[expr.id]
        return UNKNOWN

    def target(self, func: ast.expr) -> tuple[str, str] | None:
        if isinstance(func, ast.Name):
            return self.names.get(func.id, (self.mod, func.id))
        if (isinstance(func, ast.Attribute)
                and isinstance(func.value, ast.Name)):
            mod = self.modules.get(func.value.id)
            if mod:
                return mod, func.attr
        return None


def defaulted(fn: ast.FunctionDef) -> list[tuple[str, ast.expr]]:
    a = fn.args
    pos = a.posonlyargs + a.args
    named = [p.arg for p in pos[len(pos) - len(a.defaults):]]
    out = list(zip(named, a.defaults))
    out += [(p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def main() -> None:
    root = (sys.argv[1] if len(sys.argv) > 1
            else "audios_to_dataset_spark/operators")
    trees = {p: parse(p) for c in CALLERS for p in files(c)}
    consts = {module_name(p): literals(t) for p, t in trees.items()}
    sources = [Source(p, t, consts) for p, t in trees.items()]
    by_mod = {s.mod: s for s in sources}

    funcs = {}  # (module, name) -> FunctionDef
    for path in files(root):
        mod = module_name(path)
        tree = by_mod[mod].tree if mod in by_mod else parse(path)
        for node in tree.body:
            if (isinstance(node, ast.FunctionDef)
                    and not node.name.startswith("_")):
                funcs[(mod, node.name)] = node

    reach = {key: {name: {} for name, _ in defaulted(fn)}
             for key, fn in funcs.items()}
    for src in sources:
        for call in ast.walk(src.tree):
            if not isinstance(call, ast.Call):
                continue
            key = src.target(call.func)
            if key not in funcs:
                continue
            fn = funcs[key]
            owner = by_mod.get(key[0], src)
            pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
            bound, spread = {}, False
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    spread = True
                elif i < len(pos):
                    bound[pos[i]] = arg
            for kw in call.keywords:
                if kw.arg is not None:
                    bound[kw.arg] = kw.value
                elif (isinstance(kw.value, ast.Name)
                        and src.dicts.get(kw.value.id)):
                    bound.update(src.dicts[kw.value.id])
                else:
                    spread = True
            for name, default in defaulted(fn):
                seen = reach[key][name]
                if name in bound:
                    expr = bound[name]
                    text = ast.unparse(expr)
                    v, d = src.value(expr), owner.value(default)
                    seen[text] = v is not UNKNOWN and v == d
                elif spread:
                    seen["<spread>"] = False
                else:
                    seen.setdefault("<default>", True)

    total = only = 0
    for (mod, name), fn in sorted(funcs.items()):
        params = defaulted(fn)
        if not params:
            continue
        print(f"{mod}.{name}")
        for pname, default in params:
            seen = reach[(mod, name)][pname]
            total += 1
            flag = all(seen.values())
            only += flag
            shown = ", ".join(sorted(t for t in seen if t != "<default>"))
            print(f"  {'default-only' if flag else '            '}  "
                  f"{pname}={ast.unparse(default)}"
                  + (f"  <- {shown}" if shown else ""))
    print(f"{len(funcs)} public functions, {total} defaulted parameters, "
          f"{only} default-only")


if __name__ == "__main__":
    main()
