"""Every import in the package, ``scripts/`` and ``tests/`` is used.

No linter is installed, so an import left behind when its last user
is deleted would stay unnoticed. A name an import binds counts as used
when any bare name in the same file reads it. ``__init__.py`` files
(their imports re-export) and ``from __future__`` imports are exempt.
No Spark is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DIRS = ('pdf_ai_mapper_spark', 'scripts', 'tests')


def _unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split('.')[0]] = node.lineno
        elif (isinstance(node, ast.ImportFrom)
              and node.module != '__future__'):
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f'{path.relative_to(ROOT)}:{line} {name}'
            for name, line in sorted(bound.items()) if name not in used]


def test_no_unused_imports():
    unused = [u for d in DIRS for p in sorted((ROOT / d).rglob('*.py'))
              if p.name != '__init__.py' for u in _unused_imports(p)]
    assert not unused, f'unused imports: {unused}'
