"""Every top-level def in ``osmspark/`` has a caller outside the tests.

A module-aware AST scan (no Spark, no imports of the scanned code) over
``osmspark/``, ``__spark_entry__.py``, ``perfbench/`` and ``tools/``:

* ``from m import f`` and ``import m as a`` / ``a.f`` resolve to the
  def's home module, through package ``__init__`` re-exports;
* a bare name counts inside the module that defines or imports it;
* a package ``__init__``'s re-export and an ``__all__`` entry are not
  references — they are how a def is exported, not a use of it.

A def that nothing references is library surface no query, job or
benchmark calls. The only exceptions are in ``KEEP``: defs that stand
for a reference-API entry, each with its SURVEY §2 row.

A second scan over ``osmspark/``, ``tests/``, ``tools/`` and
``__spark_entry__.py`` fails on a module-level import whose name the
module never reads. Package ``__init__`` re-exports and ``__all__``
names are exports, not debris.

A third scan fails on ``createDataFrame`` of a Python list, tuple or
comprehension under ``osmspark/``: those rows are pickled through a
Python worker instead of crossing through Arrow.
"""

from __future__ import annotations

import ast
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCANNED = ["osmspark", "__spark_entry__.py", "perfbench", "tools"]
LINTED = ["osmspark", "tests", "tools", "__spark_entry__.py"]

# reference-API entry points (SURVEY §2 operator rows) that no query,
# job or benchmark op calls; each is pinned by its own tests
KEEP = {
    "osmspark.dispatch.parse": "S1",
    "osmspark.xml.source.nodes_from_xml_pages": "S8",
    "osmspark.xml.source.ways_from_xml_pages": "S8",
    "osmspark.xml.source.relations_from_xml_pages": "S8",
    "osmspark.xml.source.bounds_from_xml_pages": "S8",
    "osmspark.xml.http.xml_pages_from_http": "S9",
    "osmspark.xml.http.xml_pages_from_http_distributed": "S9",
    "osmspark.streaming.sink.sink_windowed_tiles": "S10",
    "osmspark.pbf.source.bounds_from_pages": "F2",
    "osmspark.streaming.source.stream_pages": "C2",
    "osmspark.streaming.source.stream_nodes": "C2",
    "osmspark.streaming.source.stream_windowed_tile_counts": "C2",
}


def _modname(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _files(entries: list[str] = SCANNED) -> list[pathlib.Path]:
    out = []
    for entry in entries:
        p = ROOT / entry
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _absolute(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    base = base[:len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


@functools.cache
def _tree(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


class _Module:
    def __init__(self, path: pathlib.Path):
        self.name = _modname(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = _tree(path)
        self.defs = {n.name for n in self.tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
        # local name -> dotted target ("pkg.mod" for a module alias,
        # "pkg.mod.f" for an imported def); function-local imports may bind
        # one name twice, so every import's target is also kept in a list
        self.aliases: dict[str, str] = {}
        self.imported: list[str] = []
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.aliases[a.asname] = a.name
                    else:
                        head = a.name.split(".")[0]
                        self.aliases.setdefault(head, head)
                    self.imported.append(a.name)
            elif isinstance(node, ast.ImportFrom):
                src = _absolute(self.name, self.is_pkg, node)
                for a in node.names:
                    self.aliases[a.asname or a.name] = f"{src}.{a.name}"
                    self.imported.append(f"{src}.{a.name}")


@functools.cache
def _scan() -> tuple[set[str], set[str]]:
    """(every osmspark top-level def by dotted name, referenced names)."""
    mods = {m.name: m for m in map(_Module, _files())}

    def resolve(target: str, seen=()) -> str:
        # follow a package __init__ re-export to the def's home module
        mod, _, attr = target.rpartition(".")
        m = mods.get(mod)
        if m is not None and m.is_pkg and attr in m.aliases \
                and target not in seen:
            return resolve(m.aliases[attr], seen + (target,))
        return target

    defs = {f"{m.name}.{name}" for m in mods.values()
            if m.name.startswith("osmspark") for name in m.defs}
    used: set[str] = set()
    for m in mods.values():
        for node in ast.walk(m.tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                if node.id in m.defs:
                    used.add(f"{m.name}.{node.id}")
                elif node.id in m.aliases:
                    used.add(resolve(m.aliases[node.id]))
            elif isinstance(node, ast.Attribute):
                parts = []
                base = node
                while isinstance(base, ast.Attribute):
                    parts.append(base.attr)
                    base = base.value
                if isinstance(base, ast.Name) and base.id in m.aliases:
                    dotted = [m.aliases[base.id]] + parts[::-1]
                    # a.b.c.f: try every prefix as a module path
                    for i in range(len(dotted), 0, -1):
                        used.add(resolve(".".join(dotted[:i])))
        # a package's own re-exports are its export list, not a use;
        # a name imported anywhere else counts
        if not m.is_pkg:
            used.update(resolve(t) for t in m.imported)
    return defs, used


def test_every_library_def_has_a_non_test_caller():
    defs, used = _scan()
    dead = sorted(d for d in defs if d not in used and d not in KEEP)
    assert not dead, (
        "top-level defs in osmspark/ that nothing in osmspark/, "
        "__spark_entry__.py, perfbench/ or tools/ calls — delete them, or "
        "list a reference-API def in KEEP with its SURVEY §2 row:\n  "
        + "\n  ".join(dead))


def test_keep_names_existing_defs_with_a_survey_row():
    defs, used = _scan()
    survey = (ROOT / "SURVEY.md").read_text()
    inventory = survey[survey.index("## 2. "):survey.index("## 3. ")]
    for name, row in KEEP.items():
        assert name in defs, f"KEEP lists {name}, which is not a def"
        assert name not in used, f"{name} has a caller; drop it from KEEP"
        assert f"| {row} |" in inventory, f"{name}: no SURVEY §2 row {row}"


def _unused_imports(path: pathlib.Path) -> list[str]:
    tree = _tree(path)
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import) or (
                isinstance(node, ast.ImportFrom) and node.module != "__future__"):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets):
            read.update(e.value for e in node.value.elts)
    rel = path.relative_to(ROOT)
    return [f"{rel}:{line} {name}" for name, line in bound.items()
            if name not in read]


def test_no_unused_module_imports():
    unused = [u for f in _files(LINTED) if f.name != "__init__.py"
              for u in _unused_imports(f)]
    assert not unused, (
        "module-level imports nothing in the module reads — delete them:\n  "
        + "\n  ".join(unused))


def _pickled_row_frames(path: pathlib.Path) -> list[str]:
    """``createDataFrame`` calls whose data is a list or tuple display
    or a comprehension: rows that PySpark pickles through a Python
    worker instead of shipping as Arrow."""
    rel = path.relative_to(ROOT)
    found = []
    for node in ast.walk(_tree(path)):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            continue
        data = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "data"), None)
        if isinstance(data, (ast.List, ast.Tuple, ast.ListComp,
                             ast.GeneratorExp, ast.SetComp, ast.DictComp)):
            found.append(f"{rel}:{node.lineno}")
    return found


def test_no_pickled_row_frames_in_library():
    # the list path starts a second pyspark.daemon pool beside the Arrow
    # one (osmspark/state/lineage.py gives the cost); a pandas frame, or
    # emptyRDD() for no rows, crosses through Arrow on the driver
    found = [c for f in _files(["osmspark"]) for c in _pickled_row_frames(f)]
    assert not found, (
        "createDataFrame of a Python list/tuple/comprehension in osmspark/ "
        "— build a pandas frame, or use sparkContext.emptyRDD():\n  "
        + "\n  ".join(found))
