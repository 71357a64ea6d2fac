"""Per-key implementation fingerprints for the change-aware driver-window
rotation (VERDICT r5 task 3).

A key's fingerprint is a sha256 over: its entry function's source, its
oracle SQL, the sources of entry-file helpers it references, and the
TRANSITIVE closure of every giraph_spark module it touches (module
granularity deliberately over-approximates — a module edit re-flags all
keys riding it, erring toward driver re-verification, never away from
it). ``_ordered_registry`` itself never computes fingerprints; it reads
the committed KEY_REVS.json snapshot, which
``python tests/refresh_key_revs.py`` maintains from this module.

Run standalone against ANY checkout to print the fps as JSON (used to
bootstrap the snapshot from a historical commit's worktree):

    cd <checkout> && python <repo>/tests/keyfp.py
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import os
import textwrap


def _is_pkg(module: str) -> bool:
    return module == "giraph_spark" or module.startswith("giraph_spark.")


def giraph_module_graph(pkg_root: str):
    """(module -> source sha256, module -> giraph_spark modules it
    imports) for every module under ``pkg_root`` (the giraph_spark
    package directory). Imports are read from the parsed module, so a
    function-local import counts and an import-like line inside a
    string does not."""
    pkg_parent = os.path.dirname(os.path.abspath(pkg_root))
    mod_hash: dict[str, str] = {}
    raw_imports: dict[str, list[tuple[str, list[str]]]] = {}
    packages: set = set()
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg_parent).replace(os.sep, "/")[:-3]
            name = rel.replace("/", ".")
            if name.endswith(".__init__"):
                name = name[: -len(".__init__")]
                packages.add(name)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            mod_hash[name] = hashlib.sha256(src.encode()).hexdigest()
            imps = []
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, ast.ImportFrom):
                    base = "." * node.level + (node.module or "")
                    if node.level or _is_pkg(base):
                        imps.append((base, [a.name for a in node.names]))
                elif isinstance(node, ast.Import):
                    imps.extend((a.name, []) for a in node.names if _is_pkg(a.name))
            raw_imports[name] = imps
    mod_deps: dict[str, set] = {}
    for name, imps in raw_imports.items():
        deps: set = set()
        pkg_parts = name.split(".")
        for base, names in imps:
            if base.startswith("."):
                dots = len(base) - len(base.lstrip("."))
                # one dot = the containing package for a module, the
                # package itself for an __init__; each extra dot strips
                # one more level
                strip = dots if name not in packages else dots - 1
                anchor = pkg_parts[: max(len(pkg_parts) - strip, 1)]
                tail = [base.lstrip(".")] if base.lstrip(".") else []
                target = ".".join(anchor + tail)
            else:
                target = base
            if target in mod_hash:
                deps.add(target)
            for n in names:
                sub = f"{target}.{n}"
                if sub in mod_hash:
                    deps.add(sub)
        mod_deps[name] = deps
    return mod_hash, mod_deps


def key_fingerprints(entry_mod) -> dict[str, str]:
    """Fingerprint every ``_base_queries()`` key of ``entry_mod``."""
    import giraph_spark

    mod_hash, mod_deps = giraph_module_graph(
        os.path.dirname(os.path.abspath(giraph_spark.__file__))
    )

    def closure(mods: set) -> set:
        seen: set = set()
        stack = list(mods)
        while stack:
            m = stack.pop()
            if m in seen or m not in mod_hash:
                continue
            seen.add(m)
            stack.extend(mod_deps.get(m, ()))
        return seen

    g = vars(entry_mod)
    oracles = entry_mod.oracle_sql()
    fps: dict[str, str] = {}
    for k, fn in entry_mod._base_queries().items():
        src = textwrap.dedent(inspect.getsource(fn))
        tree = ast.parse(src)
        names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        mods: set = set()
        helper_srcs: list[str] = []
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.startswith("giraph_spark")
            ):
                mods.add(node.module)
                for alias in node.names:
                    sub = f"{node.module}.{alias.name}"
                    if sub in mod_hash:
                        mods.add(sub)
        for n in sorted(names):
            obj = g.get(n)
            m = getattr(obj, "__module__", None)
            if isinstance(m, str) and m.startswith("giraph_spark"):
                mods.add(m)
            elif m == entry_mod.__name__ and callable(obj) and obj is not fn:
                # entry-file helper (fixture builders etc.): include its
                # source one level deep
                try:
                    helper_srcs.append(
                        textwrap.dedent(inspect.getsource(obj))
                    )
                except (OSError, TypeError):
                    pass
        dep_cl = sorted(closure(mods))
        payload = "\n".join(
            [src, oracles.get(k, "")]
            + helper_srcs
            + [f"{m}:{mod_hash[m]}" for m in dep_cl]
        )
        fps[k] = hashlib.sha256(payload.encode()).hexdigest()[:16]
    return fps


if __name__ == "__main__":
    import json
    import sys

    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entry_mod

    print(json.dumps(key_fingerprints(entry_mod), indent=1, sort_keys=True))
