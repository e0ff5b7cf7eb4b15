"""Import boundary of the package: every module under
``pdf_ai_mapper_spark/`` is reached from an engine path.

The engine paths are ``api`` (the ``MapperAPI`` read path),
``pipeline`` (batch extraction and re-crawl append), ``scripts/*.py``
and ``perfbench/*.py``. Reachability follows every ``import`` in a
module's source, module-level and function-local, plus the parent
packages an import runs. ``queries.py`` (the query catalog) is not a
root and its edges are not followed: it may only import modules the
engine paths already reach (or ones in ``NOT_YET_DELETED``), so a
catalog entry cannot keep an operator alive on its own. No Spark is
needed.

``NOT_YET_DELETED`` names the unreached modules that are still
shipped, with their catalog entries and tests, until a later deletion
step removes them. The set is exact: a newly unreached module fails
the test, and so does deleting one of these without dropping it here.
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
NOT_YET_DELETED = {
    f'{PKG}.kernels.bpe',
    f'{PKG}.operators.packing',
    f'{PKG}.operators.quality_model',
    f'{PKG}.operators.textstats',
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
    assert not unreachable - NOT_YET_DELETED, (
        'modules no engine path imports: '
        f'{sorted(unreachable - NOT_YET_DELETED)}')
    assert not NOT_YET_DELETED - unreachable, (
        'NOT_YET_DELETED names modules that are gone or now reached: '
        f'{sorted(NOT_YET_DELETED - unreachable)}')


def test_catalog_imports_only_engine_modules():
    outside = sorted(_imports(MODULES[CATALOG]) - _reachable()
                     - NOT_YET_DELETED)
    assert not outside, (
        f'queries.py imports modules no engine path reaches: {outside}')
