"""Every public top-level def of the package must be named as code outside
tests/: by the package itself, `__spark_entry__.py`, `bench.py`, `scripts/`
or `perfbench/`. A def that only tests reach must earn a caller (a registry
row, a bench leg or an operator) or be deleted with its tests.

"Named as code" means a global, attribute or imported name in compiled
bytecode. Strings, docstrings, postponed annotations and local variables do
not count: a registry key or a parameter that happens to share a
function's name is not a call. ALLOWED holds the defs kept on purpose. It
may only shrink: an entry whose def gains a caller or is deleted fails
`test_allowlist_is_current`.

The same callers must also set every defaulted parameter ("knob") of the
package's functions. A knob is a defaulted parameter of a function defined
once in the package (methods and nested defs included) that some caller
calls, when no such call passes it by keyword or by position. A knob that
only tests turn doubles the configurations to cover and keeps a code path
alive that production never takes: fold it into the body, or make a safety
cap a module constant. Parameters that name an input column are exempt
(COLUMN_NAMES); ALLOWED_KNOBS holds the knobs kept on purpose and may only
shrink, like ALLOWED. Functions that no caller calls are the def guard's
business, not this one's."""

import ast
import collections
import functools
import inspect
import itertools
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "osmium_tool_spark"
CALLERS = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "scripts", ROOT / "perfbench"]

ALLOWED = {
    # pure-Python references the tests compare the distributed code against
    "cell_id_py": "twin of cells.cell_id for the cell tests",
    "hilbert_xy_py": "twin of the Hilbert curve Column math",
    "hilbert_cell_py": "twin of cells.hilbert_cell",
    "tar_size_py": "twin of the webdataset shard size arithmetic",
    "bloom_fpr": "the false-positive rate the Bloom tests bound against",
    "pixel_invariant_violations": "the BASELINE PSNR check of the pixel kernels",
    "make_row_serializer": "Python XML rendering the codegen .osc writer is checked against",
    "serialize_changeset_row": "Python changeset rendering the codegen writer is checked against",
    # held for failure-injection tests of resume and replay
    "IcebergTable": "snapshot table for the resume failure-injection tests",
    "SnapshotStore": "change stream for the replay failure-injection tests",
    "read_change_stream": "change stream for the replay failure-injection tests",
    "apply_changes_stream": "change stream for the replay failure-injection tests",
    "stream_tile_counts": "change stream for the replay failure-injection tests",
    "ingest_stream": "image ingest for the replay failure-injection tests",
    # skew helpers: a Zipf hot-cell measurement decides keep or delete
    "detect_skew": "waits on the Zipf skew measurement",
    "salted_count_by": "waits on the Zipf skew measurement",
    "salted_agg": "waits on the Zipf skew measurement",
    "broadcast_salted_join": "waits on the Zipf skew measurement",
    # still to prove or delete
    "train_bpe": "BPE trainer with no registry row or bench leg",
    "bpe_encode": "BPE encoder with no registry row or bench leg",
    "theta_merge": "theta sketch merge with no caller",
    "theta_estimate": "theta estimate with no caller",
    "fingerprint": "text fingerprint with no caller",
    "read_webdataset_shards": "shard reader with no caller",
    "read_geojson_collection": "FeatureCollection reader no command or query reads with",
    "polygons_from_features": "GeoJSON to spatial_join adapter with no caller",
    "sessionize": "streaming twin of sessions.sessionize_batch",
}


COLUMN_NAMES = {"lon", "lat", "text", "doc_id", "query_id", "query_text", "poly_id", "centroid_id", "centroid_vec"}

ALLOWED_KNOBS = {
    ("main", "argv"): "the CLI entry point; tests pass an argv list",
    ("main", "spark"): "the CLI entry point; tests pass their session",
    # set only by tests that read the reference fixtures, which fail without them
    ("read_osm_xml", "distributed_min_bytes"): "reference-fixture tests force the split reader",
    ("_read_osm_xml_distributed", "split_bytes"): "reference-fixture tests split tiny inputs",
    ("write_osm_pbf", "bbox"): "reference-fixture tests write the header bbox",
    ("geojsonl_line", "properties"): "reference-fixture tests render feature properties",
    ("geojsonl_line", "poly_idx"): "reference-fixture tests render polygon indexes",
}


def py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


@functools.cache
def compiled(path: Path):
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # an invalid escape fails here, not in a later Python
        return compile(path.read_text(), str(path), "exec", dont_inherit=True)


def names_used(code) -> set[str]:
    """The global, attribute and imported names a code object and the code
    nested in it use. A module or class body also lists the names its own
    defs bind, so those are left out."""
    nested = [c for c in code.co_consts if inspect.iscode(c)]
    names = set(code.co_names)
    if not code.co_flags & inspect.CO_OPTIMIZED:
        names -= {c.co_name for c in nested}
    return names.union(*map(names_used, nested))


@functools.cache
def uncalled() -> dict[str, str]:
    """{name: "module.py:line"} of the public top-level defs in the package
    that no caller names."""
    defs = {}
    for path in py_files(PACKAGE):
        for c in compiled(path).co_consts:
            if inspect.iscode(c) and c.co_name.isidentifier() and not c.co_name.startswith("_"):
                defs[c.co_name] = f"{path.relative_to(ROOT)}:{c.co_firstlineno}"
    used = set().union(*(names_used(compiled(f)) for p in CALLERS for f in py_files(p)))
    return {name: where for name, where in defs.items() if name not in used}


def test_every_public_def_has_a_caller():
    missing = sorted(f"{where} {name}" for name, where in uncalled().items() if name not in ALLOWED)
    assert not missing, "public defs that no code outside tests/ names:\n" + "\n".join(missing)


def test_allowlist_is_current():
    stale = sorted(set(ALLOWED) - set(uncalled()))
    assert not stale, f"allowlisted defs that now have a caller or are gone: {stale}"


def is_column(param: str) -> bool:
    return param.endswith("_col") or param in COLUMN_NAMES


@functools.cache
def parsed(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def called_name(call: ast.Call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def bound_names(value: ast.expr) -> set[str]:
    """The names an assigned value may hold a function by: a name or
    attribute, every value of a dict (indexed or not) and both arms of a
    conditional expression."""
    if isinstance(value, ast.Name):
        return {value.id}
    if isinstance(value, ast.Attribute):
        return {value.attr}
    if isinstance(value, ast.Subscript):
        return bound_names(value.value)
    if isinstance(value, ast.Dict):
        return set().union(*map(bound_names, value.values))
    if isinstance(value, ast.IfExp):
        return bound_names(value.body) | bound_names(value.orelse)
    return set()


def aliases(tree: ast.Module) -> dict[str, set[str]]:
    """{alias: names} of a module's names and `self.` attributes assigned a
    function, as in `range_fn = {"morton": morton_ranges, ...}[curve]` or
    `self._derive = testdata.entities`. A call through the alias counts
    as a call of each name; aliases of one module share one namespace."""
    out = collections.defaultdict(set)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and (names := bound_names(node.value)):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    out[target.id] |= names
                elif isinstance(target, ast.Attribute) and getattr(target.value, "id", None) == "self":
                    out[target.attr] |= names
    return out


def unset_knobs_in(package: list[Path], callers: list[Path]) -> dict[tuple[str, str], str]:
    """{(function, parameter): "module.py:line"} of the defaulted parameters
    of the functions in `package` that no call in `callers` passes, column
    names included."""
    defs = collections.defaultdict(list)
    for path in package:
        tree = parsed(path)
        methods = {f for c in ast.walk(tree) if isinstance(c, ast.ClassDef) for f in c.body}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append((path, node, node in methods))
    keywords = collections.defaultdict(set)
    positional = collections.defaultdict(int)  # most positional arguments any call passes
    for path in callers:
        tree = parsed(path)
        bound = aliases(tree)
        for call in ast.walk(tree):
            if isinstance(call, ast.Call) and (name := called_name(call)):
                for fn in {name} | bound.get(name, set()):
                    keywords[fn] |= {k.arg for k in call.keywords}
                    positional[fn] = max(positional[fn], len(call.args))
    knobs = {}
    for name, [(path, node, method)] in ((n, d) for n, d in defs.items() if len(d) == 1):
        if name not in positional:
            continue
        args = node.args
        params = args.posonlyargs + args.args
        passed = positional[name] + (1 if method else 0)  # obj.f(x) binds self, then x
        defaulted = [p.arg for i, p in enumerate(params) if i >= max(len(params) - len(args.defaults), passed)]
        defaulted += [p.arg for p, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
        for param in defaulted:
            if param not in keywords[name]:
                knobs[(name, param)] = f"{path.relative_to(ROOT) if path.is_relative_to(ROOT) else path}:{node.lineno}"
    return knobs


@functools.cache
def unset_knobs() -> dict[tuple[str, str], str]:
    """unset_knobs_in over the package and CALLERS."""
    return unset_knobs_in(py_files(PACKAGE), [f for p in CALLERS for f in py_files(p)])


def knobs() -> dict[tuple[str, str], str]:
    return {k: where for k, where in unset_knobs().items() if not is_column(k[1])}


def test_every_knob_is_set_outside_tests():
    extra = sorted(f"{where} {fn}({param}=...)" for (fn, param), where in knobs().items() if (fn, param) not in ALLOWED_KNOBS)
    assert not extra, "defaulted parameters that no code outside tests/ sets:\n" + "\n".join(extra)


def test_knob_allowlist_is_current():
    stale = sorted(set(ALLOWED_KNOBS) - set(knobs()))
    assert not stale, f"allowlisted knobs that now have a caller or are gone: {stale}"


PLANTED = {
    "name": "fn = measure\n",
    "indexed dict": 'fn = {"a": measure, "b": measure}["a"]\n',
    "conditional": "fn = measure if True else len\n",
}


def test_alias_calls_are_credited(tmp_path):
    """A call through an alias sets the knobs it passes, and only those: a
    planted alias call that passes no keyword still leaves the knob."""
    pkg = tmp_path / "pkg" / "lib.py"
    pkg.parent.mkdir()
    pkg.write_text("def measure(x, step=1):\n    return x * step\n")
    calls = (("fn(1)", {("measure", "step")}), ("fn(1, step=2)", set()), ("fn(1, 2)", set()))
    for i, ((label, bind), (call, want)) in enumerate(itertools.product(PLANTED.items(), calls)):
        caller = tmp_path / f"caller_{i}.py"
        caller.write_text(bind + call + "\n")
        assert set(unset_knobs_in([pkg], [caller])) == want, (label, call)
    holder = tmp_path / "holder.py"
    holder.write_text(
        "class W:\n    def __init__(self):\n        self.run = lib.measure\n\n"
        "    def go(self):\n        return self.run(1)\n"
    )
    assert set(unset_knobs_in([pkg], [holder])) == {("measure", "step")}
    holder.write_text(holder.read_text().replace("self.run(1)", "self.run(1, step=3)"))
    parsed.cache_clear()
    assert set(unset_knobs_in([pkg], [holder])) == set()
