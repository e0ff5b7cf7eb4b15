"""Import boundary of the package: every module under
``pdf_ai_mapper_spark/`` is reached from an engine path.

The engine paths are ``api`` (the ``MapperAPI`` read path),
``pipeline`` (batch extraction and re-crawl append), ``scripts/*.py``
and ``perfbench/*.py``. Reachability follows every ``import`` in a
module's source, module-level and function-local, plus the parent
packages an import runs. ``queries.py`` (the query catalog) is not a
root and its edges are not followed: it may only import modules the
engine paths already reach, so a catalog entry cannot keep an
operator alive on its own. No Spark is needed.

The same boundary holds one level down, for the public top-level
functions and classes of the reached modules: each name must be live,
not only referenced from ``queries.py`` or the tests, unless
``CALLED_ONLY_FROM_CATALOG_OR_TESTS`` lists it. Liveness is
transitive. The root scripts and the module-level code of the reached
modules are live; so is every
top-level function or class of a reached module whose name a live
body references, and the walk follows references out of its body in
turn. A name that only another unreached function references is not
live. The match is by name alone (a bare name, an attribute or a
``from`` import), so it over-counts what is reached: any same-named
live reference keeps a function in. ``CALLED_ONLY_FROM_CATALOG_OR_TESTS``
records the names that are not live today. It is a record of fact,
not a to-do list, and it is exact: a new public function that no
engine path reaches fails the test, and so does a listed name that is
gone or now live.

And one level further down, for their parameters: a defaulted
parameter of a public function, or of a public method of a public
class, in a reached module must be set by some call, by keyword or by
position, in the package, ``scripts/``, ``perfbench/``,
``__spark_entry__.py`` or ``tests/``. A value no call sets is a
constant next to its reader, not a setting. The match is by name, as
above (a ``from`` import alias counts as its name, a class's
constructor as the class name); a call that unpacks ``*args`` or
``**kwargs`` sets every parameter. The ``MapperAPI`` endpoint
parameters are exempt: they are outside input.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = 'pdf_ai_mapper_spark'
CATALOG = f'{PKG}.queries'
ROOTS = [f'{PKG}.api', f'{PKG}.pipeline',
         *sorted(ROOT.glob('scripts/*.py')),
         *sorted(ROOT.glob('perfbench/*.py'))]
CALLED_ONLY_FROM_CATALOG_OR_TESTS = {
    'checkpoint.compact_output',
    'checkpoint.upsert_output',
    'fixtures.webpages.build_warc',
    'fixtures.webpages.web_pages_df',
    'fixtures.webpages.web_pages_from_documents',
    'fixtures.webpages.web_pages_pandas',
    'operators.dedup.dedup_exact',
    'operators.dedup.minhash_index_update',
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix('').parts
    return '.'.join(parts[:-1] if parts[-1] == '__init__' else parts)


MODULES = {_module_name(p): p for p in (ROOT / PKG).rglob('*.py')}


def _with_parents(name: str) -> set[str]:
    parts = name.split('.')
    return {'.'.join(parts[:i]) for i in range(1, len(parts) + 1)}


def _imports(path: Path) -> set[str]:
    """Package modules that importing ``path`` may run."""
    name = _module_name(path)
    package = name if path.name == '__init__.py' else name.rpartition('.')[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split('.')
                base = base[:len(base) - node.level + 1]
                base = '.'.join(base + ([node.module] if node.module else []))
            else:
                base = node.module
            found.add(base)
            found.update(f'{base}.{a.name}' for a in node.names)
    out = set()
    for mod in found:
        if mod.split('.')[0] == PKG:
            out |= _with_parents(mod)
    return out & MODULES.keys()


def _reachable() -> set[str]:
    seen, todo = set(), []
    for r in ROOTS:
        todo.extend(_imports(r) if isinstance(r, Path) else _with_parents(r))
    while todo:
        mod = todo.pop()
        if mod in seen or mod == CATALOG:
            continue
        seen.add(mod)
        todo.extend(_imports(MODULES[mod]))
    return seen


def test_every_package_module_is_reached_from_an_engine_path():
    unreachable = MODULES.keys() - _reachable() - {CATALOG}
    assert not unreachable, (
        f'modules no engine path imports: {sorted(unreachable)}')


def test_catalog_imports_only_engine_modules():
    outside = sorted(_imports(MODULES[CATALOG]) - _reachable())
    assert not outside, (
        f'queries.py imports modules no engine path reaches: {outside}')


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _referenced_names(*trees: ast.AST) -> set[str]:
    """Every name the trees reference: bare names, attribute names and
    ``from`` import aliases."""
    found = set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                found.add(node.id)
            elif isinstance(node, ast.Attribute):
                found.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                found.update(a.name for a in node.names)
    return found


def _live_names(reached: set[str]) -> set[str]:
    """Names referenced from the root scripts, the module-level code of
    the reached modules, and, transitively, the bodies of the top-level
    defs those references make live."""
    live = set()
    for r in ROOTS:
        if isinstance(r, Path):
            live |= _referenced_names(ast.parse(r.read_text(), str(r)))
    defs: dict[str, list[ast.AST]] = {}
    for mod in reached:
        for node in ast.parse(MODULES[mod].read_text()).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append(node)
            else:
                live |= _referenced_names(node)
    todo = list(live & defs.keys())
    while todo:
        for node in defs.pop(todo.pop(), ()):
            new = _referenced_names(node) - live
            live |= new
            todo.extend(new & defs.keys())
    return live


def test_every_public_function_is_referenced_from_an_engine_path():
    reached = _reachable()
    live = _live_names(reached)
    unreferenced = set()
    for mod in reached:
        for node in ast.parse(MODULES[mod].read_text()).body:
            if (isinstance(node, _DEFS)
                    and not node.name.startswith('_')
                    and node.name not in live):
                unreferenced.add(
                    f'{mod.removeprefix(PKG + ".")}.{node.name}')
    assert not unreferenced - CALLED_ONLY_FROM_CATALOG_OR_TESTS, (
        'public names no engine path reaches: '
        f'{sorted(unreferenced - CALLED_ONLY_FROM_CATALOG_OR_TESTS)}')
    assert not CALLED_ONLY_FROM_CATALOG_OR_TESTS - unreferenced, (
        'CALLED_ONLY_FROM_CATALOG_OR_TESTS names functions that are gone '
        'or now reached: '
        f'{sorted(CALLED_ONLY_FROM_CATALOG_OR_TESTS - unreferenced)}')


CALLERS = [*sorted((ROOT / PKG).rglob('*.py')),
           *sorted(ROOT.glob('scripts/*.py')),
           *sorted(ROOT.glob('perfbench/*.py')),
           ROOT / '__spark_entry__.py',
           *sorted(ROOT.glob('tests/*.py'))]
ENDPOINT_CLASSES = {'MapperAPI'}


def _defaulted(fn: ast.FunctionDef,
               method: bool) -> tuple[list[str], set[str]]:
    """The positional parameter names a call fills (``self`` dropped
    for a method) and the names of the parameters with a default."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args][1 if method else 0:]
    defaulted = set(pos[len(pos) - len(a.defaults):] if a.defaults else ())
    defaulted |= {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None}
    return pos, defaulted


def _settable(reached: set[str]) -> dict[str, tuple]:
    """Qualified name → (the name a call uses, positional parameters,
    defaulted parameters) for every public function and public method
    of a public class in the reached modules."""
    out = {}
    for mod in reached:
        for node in ast.parse(MODULES[mod].read_text()).body:
            if not isinstance(node, _DEFS) or node.name.startswith('_'):
                continue
            if not isinstance(node, ast.ClassDef):
                out[f'{mod}.{node.name}'] = (node.name,
                                             *_defaulted(node, False))
                continue
            for m in node.body:
                if (isinstance(m, ast.FunctionDef)
                        and (m.name == '__init__'
                             or (not m.name.startswith('_')
                                 and node.name not in ENDPOINT_CLASSES))):
                    name = node.name if m.name == '__init__' else m.name
                    out[f'{mod}.{node.name}.{m.name}'] = (
                        name, *_defaulted(m, True))
    return out


def _calls() -> dict[str, list[ast.Call]]:
    """Every call in the caller files, by the called name."""
    out: dict[str, list[ast.Call]] = {}
    for path in CALLERS:
        tree = ast.parse(path.read_text(), str(path))
        alias = {a.asname: a.name for n in ast.walk(tree)
                 if isinstance(n, ast.ImportFrom) for a in n.names
                 if a.asname}
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                if isinstance(n.func, ast.Name):
                    out.setdefault(alias.get(n.func.id, n.func.id),
                                   []).append(n)
                elif isinstance(n.func, ast.Attribute):
                    out.setdefault(n.func.attr, []).append(n)
    return out


def test_every_defaulted_parameter_is_set_by_a_call():
    calls = _calls()
    unset = []
    for qual, (name, pos, defaulted) in sorted(
            _settable(_reachable()).items()):
        left = set(defaulted)
        for c in calls.get(name, ()):
            if (any(isinstance(a, ast.Starred) for a in c.args)
                    or any(k.arg is None for k in c.keywords)):
                left.clear()
            left -= set(pos[:len(c.args)]) | {k.arg for k in c.keywords}
        unset += [f'{qual.removeprefix(PKG + ".")}({p})' for p in sorted(left)]
    assert not unset, f'defaulted parameters no call sets: {unset}'
