"""Every global name a module reads must be bound somewhere.

A name that no module-level statement binds (and that is not a builtin)
raises NameError only when its line runs, which for a rarely-taken
branch may be never in the test suite. The scan is static: it walks
each file's symbol tables (stdlib ``symtable``) and needs no imports.
"""

from __future__ import annotations

import builtins
import symtable
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("data_etl_pipeline_spark", "scripts", "tests")
# bound by the import system for every module
MODULE_DUNDERS = {
    "__name__",
    "__file__",
    "__doc__",
    "__spec__",
    "__loader__",
    "__package__",
    "__path__",
    "__cached__",
    "__builtins__",
    "__annotations__",
    "__dict__",
}
KNOWN = set(dir(builtins)) | MODULE_DUNDERS


def _tables(table: symtable.SymbolTable):
    yield table
    for child in table.get_children():
        yield from _tables(child)


def unbound_globals(path: Path) -> list[tuple[str, str]]:
    """(scope name, symbol) for each global read that nothing binds."""
    top = symtable.symtable(path.read_text(), str(path), "exec")
    bound = {
        s.get_name()
        for s in top.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    }
    reads = []
    for table in _tables(top):
        for s in table.get_symbols():
            if s.is_declared_global() and s.is_assigned():
                bound.add(s.get_name())
            if s.is_referenced() and (table is top or s.is_global()):
                reads.append((table.get_name(), s.get_name()))
    return sorted({r for r in reads if r[1] not in bound and r[1] not in KNOWN})


def test_no_unbound_global_names():
    found = {
        str(p.relative_to(ROOT)): names
        for d in SCANNED
        for p in sorted((ROOT / d).rglob("*.py"))
        if (names := unbound_globals(p))
    }
    assert found == {}


def test_no_script_shadows_a_stdlib_module():
    # A script runs with scripts/ first on sys.path, so a sibling named
    # like a stdlib module (profile.py) replaces it for every script:
    # pyspark imports cProfile, which imports profile.
    clash = sorted(
        p.name for p in (ROOT / "scripts").glob("*.py") if p.stem in sys.stdlib_module_names
    )
    assert clash == []
