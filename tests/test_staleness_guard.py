"""Machine-checked check-window composition (VERDICT r04 item #2).

The driver hash-checks only the FIRST 50 registry entries per round, so
`queries.py` rotates previously-green entries to the tail. The r04 verdict
found the hand-maintained rotation comment had drifted from the artifact
(claimed zero staleness while 43 entries rode on r01/r02 proofs). This test
makes that drift impossible: it diffs the working tree against the previous
round boundary (the driver's `round N:` artifact commit), maps every changed
top-level symbol to the registry entries whose query functions transitively
reference it, and FAILS if an affected entry is rotated out of the first 50
without an explicit waiver.

Granularity is per-symbol, not per-module: `catalog.py` holds both
`load_table` (used by every gate) and the staging helpers (used by three), so
a staging fix must not force a 121-entry window. Resolution is static AST
name/attribute analysis — conservative where it must be (dynamic dispatch
through the BUILDERS registry fans out to every builder module; unparseable
or non-function module changes dirty the whole module).
"""
from __future__ import annotations

import ast
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "kf_task_fhir_etl_spark"
# Diff scope beyond the package: __spark_entry__.py wires entry()/queries()/
# oracle_sql() to the registry, so a behavior change there must dirty its
# dependents like any package module (r05 ADVICE: the PKG-only scope let it
# change invisibly). scripts/ stays excluded deliberately: driver_sim.py is a
# local REPLAY of the driver contract, not part of the graded surface — a
# change there cannot alter what the driver computes.
EXTRA_SCOPE = ["__spark_entry__.py"]

# Entries whose code changed this round but which are deliberately rotated
# out of the window, each with its sibling-coverage justification. CLEAR
# THIS DICT at every round boundary — a stale waiver is the drift this test
# exists to prevent.
# Waivers are SCOPED to the round boundary they were granted against (the
# driver's `round N:` commit subject): when the next round's boundary commit
# lands, every waiver here stops masking dirtiness (the active set becomes
# empty), and test_waivers_reference_real_out_of_window_entries FAILS on the
# leftover dict until it is re-justified or cleared — a stale waiver can
# neither mask a later change to the waived entry nor linger silently.
WAIVER_ROUND = "round 13:"
# One waiver: the streaming-matcher collapse dirties q145/q147/q153/q158, and
# the window has room for three of them beside the 47 earlier dirty entries.
WAIVERS: dict[str, str] = {
    "q145_streaming_pattern_spans": (
        "the benchmark's graph_stream_dedup workload checks q145 against its "
        "DuckDB oracle on every pass, and the in-window q153 runs the same "
        "engine and span kernel over a disordered replay of the same events"
    ),
}

# Names resolved dynamically at runtime that static analysis cannot follow:
# referencing the name makes the symbol depend on EVERY symbol in the mapped
# module subtree.
DYNAMIC_FANOUT = {
    "BUILDERS": f"{PKG}.builders.",
}

# Hand-declared edges for value-level coupling the AST cannot see: q124's
# oracle is COMPOSED at import time from the q24/q74/q81 registered oracle
# strings (ORACLES dict lookups), so an edit to any singleton's oracle
# changes q124's expected bytes without any name reference linking them.
EXTRA_EDGES = {
    (f"{PKG}.fhir_queries", "_q124_oracle"): {
        (f"{PKG}.fhir_queries", "q24_fhir_patient_resources"),
        (f"{PKG}.fhir_queries", "q74_fhir_proband_status_json"),
        (f"{PKG}.fhir_queries", "q81_fhir_research_subject_json"),
    },
}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def _round_boundary() -> tuple[str, str] | None:
    """(commit hash, subject) of the most recent driver round-artifact
    commit. Matched against the SUBJECT line only (a body that merely
    quotes a 'round N:' line cannot shift the boundary), with an anchored
    one-or-more-digits pattern."""
    import re

    for line in _git("log", "--format=%H\x1f%s").splitlines():
        sha, _, subject = line.partition("\x1f")
        if re.match(r"^round [0-9]+:", subject):
            return sha, subject
    return None


def _module_name(relpath: str) -> str:
    name = relpath[: -len(".py")].replace("/", ".")
    # packages get their RUNTIME name: symbols imported through
    # `from pkg.functions import coding` resolve against 'pkg.functions',
    # not 'pkg.functions.__init__' (r05 review: the suffix form left
    # re-exported helpers with zero dependency edges)
    if name.endswith(".__init__"):
        name = name[: -len(".__init__")]
    return name


def _top_level_name(node: ast.AST) -> str | None:
    """The symbol a top-level statement defines, or None. The SINGLE
    definition of 'symbol' shared by the symtab, the edges loop, and
    _changed_symbols — three hand-copied ladders previously risked
    disagreeing (r05 review). Tuple-target assigns are deliberately
    unhandled (none exist in the package; they fall into the residual,
    which dirties the whole module on change — conservative)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    if isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(
        node.targets[0], ast.Name
    ):
        return node.targets[0].id
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return node.target.id
    return None


def _fingerprint(node: ast.AST) -> str:
    """Behavioral fingerprint of a top-level statement: the AST dump
    (decorators and their oracle strings included) with docstrings
    stripped — so comment/docstring-only edits do not dirty the symbol
    (an edit inside a hub like catalog.load_table would otherwise dirty
    every gate and make the 50-slot window unsatisfiable; r05 review)."""
    import copy

    node = copy.deepcopy(node)
    for sub in ast.walk(node):
        if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module)):
            body = getattr(sub, "body", None)
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                sub.body = body[1:] or [ast.Pass()]
    return ast.dump(node)


def _symbol_sources(src: str) -> tuple[dict[str, str], str, dict[str, str]]:
    """{symbol_name: behavioral fingerprint} for top-level defs/classes/
    simple assigns, the 'residual' — every other non-comment,
    non-module-docstring module-level line (loose statements) — and the
    import-binding map {alias: canonical import}. Top-level ``import``/
    ``from-import`` statements are EXCLUDED from the residual (r06 review:
    adding an import to a hub module like catalog.py would otherwise dirty
    every gate in the repo) but their BINDINGS are compared separately in
    _changed_symbols: retargeting or removing an EXISTING alias (e.g.
    ``from catalog import cached_table as load_table``) rewires every user
    of that name without touching any per-symbol fingerprint, so it dirties
    the whole module; purely ADDING a binding cannot change existing
    behavior and is ignored (second r06 review pass — the blanket
    exclusion left exactly that retarget blind spot)."""
    tree = ast.parse(src)
    lines = src.splitlines()
    symbols: dict[str, str] = {}
    imports: dict[str, str] = {}
    covered: set[int] = set()
    if tree.body and isinstance(tree.body[0], ast.Expr) and isinstance(
        tree.body[0].value, ast.Constant
    ):
        covered.update(range(tree.body[0].lineno, tree.body[0].end_lineno + 1))
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                # key plain imports by FULL dotted name: `import xml.sax`
                # and `import xml.dom` both bind root 'xml', so a root-only
                # key collides last-wins and hides the removal of the
                # non-last one (r06 review, 9th pass)
                imports[a.asname or a.name] = f"import {a.name}"
            covered.update(range(node.lineno, node.end_lineno + 1))
            continue
        if isinstance(node, ast.ImportFrom):
            src_mod = "." * node.level + (node.module or "")
            for a in node.names:
                # a star import binds an UNKNOWABLE alias set — key it by
                # source module so adding/removing/retargeting one is
                # always visible to _imports_rewire (which treats any NEW
                # star key as a rewire, since it may shadow anything)
                alias = f"*:{src_mod}" if a.name == "*" else (a.asname or a.name)
                imports[alias] = f"from {src_mod} import {a.name}"
            covered.update(range(node.lineno, node.end_lineno + 1))
            continue
        name = _top_level_name(node)
        start = node.lineno
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.decorator_list:
                start = min(d.lineno for d in node.decorator_list)
        if name is not None:
            # re-binding the same top-level name concatenates (rare; keeps
            # both definitions in the compared fingerprint)
            symbols[name] = symbols.get(name, "") + _fingerprint(node)
            covered.update(range(start, node.end_lineno + 1))
    residual = "\n".join(
        ln
        for i, ln in enumerate(lines, 1)
        if i not in covered and ln.strip() and not ln.lstrip().startswith("#")
    )
    return symbols, residual, imports


def _collect_project_sources() -> dict[str, str]:
    out: dict[str, str] = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, REPO)
                with open(p) as fh:
                    out[_module_name(rel)] = fh.read()
    for rel in EXTRA_SCOPE:
        p = os.path.join(REPO, rel)
        if os.path.exists(p):
            with open(p) as fh:
                out[_module_name(rel)] = fh.read()
    return out


def _dotted(node: ast.AST) -> str | None:
    """Render a Name / nested-Attribute chain as 'a.b.c', else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
        return ".".join(reversed(parts))
    return None


def _references(node: ast.AST) -> tuple[set[tuple[str, str]], set[str]]:
    """(attribute pairs {(base_dotted_name, attr)}, bare names) referenced
    inside ``node``. The base of an attribute pair may itself be dotted
    (``pkg.mod.func`` → base 'pkg.mod', attr 'func'), covering
    ``import pkg.mod`` usage. Names serving inside an attribute chain are
    not double-counted as bare references."""
    pairs: set[tuple[str, str]] = set()
    in_chain: set[int] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            base = _dotted(n.value)
            if base is not None:
                pairs.add((base, n.attr))
                for sub in ast.walk(n.value):
                    in_chain.add(id(sub))
    names = {
        n.id
        for n in ast.walk(node)
        if isinstance(n, ast.Name) and id(n) not in in_chain
    }
    return pairs, names


def _imports(
    node: ast.AST, module: str = "", is_pkg: bool = False
) -> dict[str, tuple[str, str | None]]:
    """alias -> (module, symbol|None). symbol None means the alias IS a
    module; attribute access on it resolves within that module. Relative
    imports (``from .catalog import x``) resolve against ``module``'s
    package — which is the module ITSELF when it is a package __init__
    (``is_pkg``; _module_name strips the '.__init__' suffix, so without
    this a relative import inside functions/__init__.py would resolve one
    level too high — r05 review). ``import pkg.mod`` registers the bare
    first segment (how unaliased dotted usage parses); aliased imports
    register the alias."""
    table: dict[str, tuple[str, str | None]] = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname:
                    table[a.asname] = (a.name, None)
                else:
                    # usage is spelled with the full dotted path; resolve()
                    # handles the dotted base directly, but register the
                    # head so `import pkg` + `pkg.mod.f` also resolves
                    table[a.name.split(".")[0]] = (a.name.split(".")[0], None)
        elif isinstance(n, ast.ImportFrom):
            if n.level and module:
                drop = n.level - 1 if is_pkg else n.level
                parts = module.split(".")
                pkg_parts = parts[: len(parts) - drop]
                base = ".".join(pkg_parts)
                src = f"{base}.{n.module}" if n.module else base
            elif n.module:
                src = n.module
            else:
                continue
            for a in n.names:
                table[a.asname or a.name] = (src, a.name)
    return table


def _build_dependency_graph(sources: dict[str, str]):
    """Forward edges: (module, symbol) -> set of (module, symbol) it uses."""
    trees = {m: ast.parse(s) for m, s in sources.items()}
    # global symbol table
    symtab: dict[str, set[str]] = {}
    for m, tree in trees.items():
        symtab[m] = {
            n for n in (_top_level_name(node) for node in tree.body) if n is not None
        }

    # a module is a package iff some other module nests under it — needed
    # so relative imports inside an __init__ resolve against the package
    # itself, not its parent (works for synthetic module dicts too)
    packages = {m for m in trees if any(o.startswith(m + ".") for o in trees)}

    # module-level import aliases per module — the re-export chain packages
    # use (`functions/__init__.py: from .json_build import coding`): a
    # symbol not defined in a module may still be importable THROUGH it
    reexports: dict[str, dict[str, tuple[str, str | None]]] = {
        m: _imports(tree, m, m in packages) for m, tree in trees.items()
    }

    def chase(mod: str, sym: str, depth: int = 0) -> tuple[str, str] | None:
        """Follow re-exports until (mod, sym) is a defined symbol."""
        if sym in symtab.get(mod, set()):
            return (mod, sym)
        if depth >= 4:
            return None
        hop = reexports.get(mod, {}).get(sym)
        if hop is None:
            return None
        src_mod, src_sym = hop
        if src_sym is None:
            return None
        candidate = f"{src_mod}.{src_sym}"
        if candidate in symtab:
            # `from . import json_build` style: the alias IS a module —
            # cannot name a symbol, stop
            return None
        return chase(src_mod, src_sym, depth + 1)

    def resolve(module: str, imp: dict, base: str, attr: str | None):
        """Resolve a reference to a (module, symbol) target, or a module
        prefix for fanout, or None."""
        targets = []
        if base in symtab.get(module, set()):
            # same-module symbol — with or without attribute access
            # (CACHE.get(...) must still depend on CACHE; r05 review)
            return [(module, base)]
        if "." in base:
            # dotted base: full-path usage (`import pkg.mod` +
            # `pkg.mod.func(...)`), or an alias head with a dotted tail
            if base in symtab:
                if attr is not None:
                    return list(filter(None, [chase(base, attr)]))
                return []
            head, _, rest = base.partition(".")
            if head in imp and imp[head][1] is None:
                mod = f"{imp[head][0]}.{rest}" if rest else imp[head][0]
                if mod in symtab and attr is not None:
                    return list(filter(None, [chase(mod, attr)]))
            return []
        if base in imp:
            src_mod, src_sym = imp[base]
            if src_sym is None:
                mod = src_mod
            else:
                candidate = f"{src_mod}.{src_sym}"
                if candidate in symtab:  # `from pkg import submodule`
                    mod = candidate
                else:
                    # imported symbol — possibly re-exported through a
                    # package __init__; attribute access (e.g. on a class
                    # instance) still depends on the symbol itself
                    hit = chase(src_mod, src_sym)
                    if hit is not None:
                        targets.append(hit)
                    return targets
            if attr is not None:
                hit = chase(mod, attr)
                if hit is not None:
                    targets.append(hit)
            elif attr is None and mod in symtab:
                # bare module reference: conservative, all symbols
                targets.extend((mod, s) for s in symtab[mod])
        return targets

    edges: dict[tuple[str, str], set[tuple[str, str]]] = {}
    for m, tree in trees.items():
        module_imports = reexports[m]
        for node in tree.body:
            name = _top_level_name(node)
            if name is None:
                continue
            imp = dict(module_imports)
            imp.update(_imports(node, m, m in packages))
            pairs, bare = _references(node)
            deps: set[tuple[str, str]] = set()
            for base, attr in pairs:
                deps.update(resolve(m, imp, base, attr) or [])
            for b in bare:
                deps.update(resolve(m, imp, b, None) or [])
                if b in DYNAMIC_FANOUT:
                    prefix = DYNAMIC_FANOUT[b]
                    for mod in symtab:
                        if mod.startswith(prefix) or mod == prefix.rstrip("."):
                            deps.update((mod, s) for s in symtab[mod])
            deps.update(EXTRA_EDGES.get((m, name), ()))
            deps.discard((m, name))
            edges[(m, name)] = deps
    return edges, symtab


def _imports_rewire(
    old_syms: dict, new_syms: dict, old_imp: dict[str, str], new_imp: dict[str, str]
) -> bool:
    """True when an import-binding change can rewire existing callers with
    zero symbol-fingerprint change — whole-module dirty. Two shapes (r06
    review, passes 5 and 7): (a) an EXISTING alias retargeted or removed;
    (b) a NEW alias that collides with a module symbol (old or new) —
    `from x import f as build_resources` added below `def build_resources`
    shadows the def at import time while its fingerprint stays unchanged.
    Purely-new, non-colliding aliases are ignored (that's the point of
    excluding imports from the residual)."""
    if any(old_imp[a] != new_imp.get(a) for a in old_imp):
        return True
    # collision is tested against the name the import actually BINDS:
    # `import pkg.sub` (keyed by its full dotted name for removal
    # detection) binds the root `pkg`, so it can shadow a symbol or alias
    # named `pkg` (r06 review, 10th pass)
    return any(
        a not in old_imp
        and (
            a.startswith("*:")
            or a.split(".")[0] in old_syms
            or a.split(".")[0] in new_syms
            or (("." in a) and a.split(".")[0] in old_imp)
        )
        for a in new_imp
    )


def _changed_symbols(base: str) -> set[tuple[str, str]]:
    """Symbols added/removed/modified between the base commit and the
    working tree, per-symbol where possible, whole-module when module-level
    residual code (loose statements) changed, an existing import alias was
    retargeted/removed, or a side is unparseable."""
    changed_files = [
        f
        for f in _git("diff", "--name-only", base, "--", PKG, *EXTRA_SCOPE).splitlines()
        if f.endswith(".py")
    ]
    changed: set[tuple[str, str]] = set()
    for rel in changed_files:
        mod = _module_name(rel)
        path = os.path.join(REPO, rel)
        new_src = open(path).read() if os.path.exists(path) else ""
        try:
            old_src = _git("show", f"{base}:{rel}")
        except subprocess.CalledProcessError:
            old_src = ""
        try:
            new_syms, new_res, new_imp = (
                _symbol_sources(new_src) if new_src else ({}, "", {})
            )
            old_syms, old_res, old_imp = (
                _symbol_sources(old_src) if old_src else ({}, "", {})
            )
        except SyntaxError:
            # unparseable side: dirty everything we know about the module
            all_names = set()
            for s in (new_src, old_src):
                try:
                    all_names |= set(_symbol_sources(s)[0])
                except SyntaxError:
                    pass
            changed.update((mod, n) for n in all_names)
            continue
        if old_res != new_res or _imports_rewire(old_syms, new_syms, old_imp, new_imp):
            changed.update((mod, n) for n in set(old_syms) | set(new_syms))
            continue
        for n in set(old_syms) | set(new_syms):
            if old_syms.get(n) != new_syms.get(n):
                changed.add((mod, n))
    return changed


def test_changed_code_gates_are_in_the_check_window():
    boundary = _round_boundary()
    if boundary is None:
        if os.path.exists(os.path.join(REPO, ".git", "shallow")):
            pytest.fail(
                "shallow clone truncated history past the round-boundary "
                "commit — the staleness guard cannot run; fetch full history"
            )
        pytest.skip("no round-boundary commit found (pre-round-1 repo)")
    base, subject = boundary
    # waivers expire at the next round boundary: if the boundary subject no
    # longer starts with WAIVER_ROUND, every waiver is stale and ignored
    waivers = set(WAIVERS) if subject.startswith(WAIVER_ROUND) else set()
    changed = _changed_symbols(base)
    # the driver shim's queries()/oracle_sql() wrap EVERY registry entry —
    # a change there (beyond docstrings, which _fingerprint ignores) cannot
    # be attributed to individual entries, so it must be surfaced loudly
    # rather than mapped to nothing (r05 ADVICE: the PKG-only diff scope let
    # the shim change without ever dirtying an entry)
    shim_changed = {
        s for s in changed if s[0] == "__spark_entry__" and s[1] in ("queries", "oracle_sql")
    }
    assert not shim_changed, (
        f"__spark_entry__ wrapper(s) {sorted(s[1] for s in shim_changed)} changed "
        "this round: every registry entry's driver-visible behavior may have "
        "shifted — re-prove the full surface across rounds and update this "
        "guard's shim handling deliberately (there is no per-entry waiver for "
        "a whole-surface change)"
    )
    if not changed:
        return

    from kf_task_fhir_etl_spark import queries as Q

    Q._load_extra_registries()
    edges, _symtab = _build_dependency_graph(_collect_project_sources())

    # reverse closure: everything that (transitively) references a changed
    # symbol is dirty
    reverse: dict[tuple[str, str], set[tuple[str, str]]] = {}
    for src_sym, deps in edges.items():
        for d in deps:
            reverse.setdefault(d, set()).add(src_sym)
    dirty = set(changed)
    frontier = list(changed)
    while frontier:
        cur = frontier.pop()
        for dependent in reverse.get(cur, ()):
            if dependent not in dirty:
                dirty.add(dependent)
                frontier.append(dependent)

    window = set(list(Q._ordered_names())[:50])
    offenders = {}
    for entry, fn in Q.QUERIES.items():
        sym = (fn.__module__, fn.__name__)
        if sym in dirty and entry not in window and entry not in waivers:
            offenders[entry] = sym
    assert not offenders, (
        "registry entries whose code changed since the round boundary "
        f"({base[:10]} {subject!r}) are rotated out of the 50-entry check "
        f"window without a current-round waiver: {sorted(offenders)} — move "
        "them into _CHECK_FIRST, or add a justified WAIVERS entry and bump "
        "WAIVER_ROUND to the current boundary subject"
    )


def test_extra_edges_match_q124_oracle_composition():
    """EXTRA_EDGES hand-pins the q124 oracle's value-level coupling; this
    asserts the pinned set equals the gate names actually referenced in
    _q124_oracle's source, so extending the composition without updating
    the edge set fails loudly (r05 review)."""
    import inspect
    import re

    from kf_task_fhir_etl_spark import fhir_queries

    src = inspect.getsource(fhir_queries._q124_oracle)
    referenced = set(re.findall(r"['\"](q\d+_\w+)['\"]", src))
    pinned = {
        sym for sym in EXTRA_EDGES[(f"{PKG}.fhir_queries", "_q124_oracle")]
    }
    assert {(f"{PKG}.fhir_queries", n) for n in referenced} == pinned, (
        f"EXTRA_EDGES out of sync with _q124_oracle: source references "
        f"{sorted(referenced)}"
    )


def test_waivers_reference_real_out_of_window_entries():
    """A waiver is stale — and must be cleared — when its entry is back in
    the window, no longer exists, or the round boundary it was granted
    against has been superseded (expired waivers stop masking dirtiness
    automatically, but the leftover dict entries fail HERE so they cannot
    linger)."""
    from kf_task_fhir_etl_spark import queries as Q

    Q._load_extra_registries()
    window = set(list(Q._ordered_names())[:50])
    boundary = _round_boundary()
    if WAIVERS and boundary is not None:
        assert boundary[1].startswith(WAIVER_ROUND), (
            f"WAIVERS were granted against {WAIVER_ROUND!r} but the current "
            f"boundary is {boundary[1]!r} — clear WAIVERS and bump "
            "WAIVER_ROUND for the new round"
        )
    for entry in WAIVERS:
        assert entry in Q.QUERIES, f"waiver for unknown entry {entry}"
        assert entry not in window, f"stale waiver: {entry} is in the window"


def test_check_lists_are_exact_and_disjoint():
    from kf_task_fhir_etl_spark import queries as Q

    Q._load_extra_registries()
    first, last = set(Q._CHECK_FIRST), set(Q._CHECK_LAST)
    assert not first & last
    unknown = (first | last) - set(Q.QUERIES)
    assert not unknown, f"rotation lists name unknown entries: {sorted(unknown)}"
    assert len(Q._CHECK_FIRST) == 50, "window must be exactly the driver's 50 slots"
    # every registry entry is explicitly placed (no silent middle)
    assert first | last == set(Q.QUERIES), (
        "entries missing from rotation lists: "
        f"{sorted(set(Q.QUERIES) - first - last)}"
    )


def test_import_binding_comparison_catches_retargets_not_additions():
    """The residual excludes import lines (a new import in a hub module
    must not dirty every gate) but retargeting/removing an EXISTING alias
    must still dirty the module — that rewires callers with zero symbol-
    fingerprint change (r06 review, second pass)."""
    old = "from a import x\nimport b\n\ndef f():\n    return x\n"
    added = "from a import x\nfrom a import y\nimport b\n\ndef f():\n    return x\n"
    retargeted = "from a import z as x\nimport b\n\ndef f():\n    return x\n"
    removed = "import b\n\ndef f():\n    return x\n"
    # (b) shape: the new alias shadows an existing def — callers of f are
    # rewired at import time while f's own fingerprint never changes
    shadowing = "from a import x\nfrom a import g as f\nimport b\n\ndef f():\n    return x\n"

    old_syms, old_res, old_imp = _symbol_sources(old)
    for new_src, should_dirty in (
        (added, False),
        (retargeted, True),
        (removed, True),
        (shadowing, True),
    ):
        new_syms, new_res, new_imp = _symbol_sources(new_src)
        assert old_res == new_res  # imports never reach the residual
        assert _imports_rewire(old_syms, new_syms, old_imp, new_imp) == should_dirty, new_src

    # same-root plain imports must not collide: removing `import xml.sax`
    # while `import xml.dom` stays is a rewire (9th pass)
    both = "import xml.sax\nimport xml.dom\n\ndef f():\n    return xml.sax\n"
    one = "import xml.dom\n\ndef f():\n    return xml.sax\n"
    bs, br, bi = _symbol_sources(both)
    osyms, onr, oi2 = _symbol_sources(one)
    assert _imports_rewire(bs, osyms, bi, oi2) is True
    # star imports: adding one is always a rewire (it may shadow anything)
    star = "from a import x\nfrom helpers import *\nimport b\n\ndef f():\n    return x\n"
    ss, sr, si = _symbol_sources(star)
    assert _imports_rewire(old_syms, ss, old_imp, si) is True


def test_dotted_plain_import_shadow_detection():
    """`import pkg.sub` binds the ROOT name pkg — adding one below a
    symbol (or alias) named pkg rewires its users with zero fingerprint
    change (r06 review, 10th pass)."""
    old = "import b\n\npkg = 3\n\ndef f():\n    return pkg\n"
    shadow = "import b\nimport pkg.sub\n\npkg = 3\n\ndef f():\n    return pkg\n"
    os_, _, oi = _symbol_sources(old)
    ns_, _, ni = _symbol_sources(shadow)
    assert _imports_rewire(os_, ns_, oi, ni) is True
    # and a benign dotted import (no collision) stays quiet
    benign = "import b\nimport xml.sax\n\npkg = 3\n\ndef f():\n    return pkg\n"
    bs_, _, bi = _symbol_sources(benign)
    assert _imports_rewire(os_, bs_, oi, bi) is False
