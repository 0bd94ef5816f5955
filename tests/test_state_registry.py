"""The per-query state registry (``io.query_state`` / ``io.scratch_dir``)
and the source guards that keep it the only owner of per-query state
in ``plans/``, ``sinks/``, ``operators/`` and ``streaming/``, keep
``ranking.pin_cache`` the only place ``plans/`` and ``operators/``
persist a frame, keep ``io.table`` the only place that decides scan
parallelism, and keep ``session.py`` the only module that changes
session conf."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

import pytest

from marketingcloud_etl_spark import io

PKG = Path(io.__file__).resolve().parent


def _name() -> str:
    # the registry is process-global: every test owns fresh state names
    return f"t_{uuid.uuid4().hex[:8]}"


def test_build_runs_once_per_name_and_fixture(tmp_path):
    name, calls = _name(), []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "payload"), "w") as f:
            f.write("x")
        return ["codebook"]

    d1, v1 = io.query_state(name, str(tmp_path / "sfA"), build)
    d2, v2 = io.query_state(name, str(tmp_path / "sfA"), build)
    assert len(calls) == 1
    assert (d1, v1) == (d2, v2) and v1 == ["codebook"]
    assert open(os.path.join(d1, "payload")).read() == "x"
    # the build saw a tmp sibling, never the published dir
    assert calls[0] != d1 and not os.path.exists(calls[0])

    # another fixture, or another name, is another state
    d3, _ = io.query_state(name, str(tmp_path / "sfB"), build)
    d4, _ = io.query_state(_name(), str(tmp_path / "sfA"), build)
    assert len(calls) == 3 and len({d1, d3, d4}) == 3

    # a state whose dir is gone is built again
    shutil.rmtree(d1)
    d5, _ = io.query_state(name, str(tmp_path / "sfA"), build)
    assert len(calls) == 4 and os.path.isfile(os.path.join(d5, "payload"))


def test_failed_build_leaves_nothing_and_retries(tmp_path):
    name, sf = _name(), str(tmp_path / "sf")
    seen = []

    def bad(d):
        seen.append(d)
        with open(os.path.join(d, "half"), "w") as f:
            f.write("partial")
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        io.query_state(name, sf, bad)
    root = io._state_root()
    assert not os.path.exists(seen[0])
    assert not [e for e in os.listdir(root) if e.startswith(name) and
                os.path.isdir(os.path.join(root, e))]

    d, v = io.query_state(name, sf, lambda d: 7)
    assert v == 7 and os.path.isfile(os.path.join(d, "_SUCCESS"))


def test_path_spellings_share_one_state(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    name, calls = _name(), []

    def build(d):
        calls.append(d)

    got = {
        io.query_state(name, spelling, build)[0]
        for spelling in ("sf0.001", "./sf0.001/", str(tmp_path / "sf0.001"))
    }
    assert len(got) == 1 and len(calls) == 1


def test_scratch_dirs_are_fresh_and_share_the_root():
    a, b = io.scratch_dir("q0"), io.scratch_dir("q0")
    assert a != b and os.listdir(a) == [] and os.listdir(b) == []
    assert os.path.dirname(a) == os.path.dirname(b) == io._state_root()


def test_root_is_removed_at_interpreter_exit(tmp_path):
    code = (
        "from marketingcloud_etl_spark import io\n"
        "d, _ = io.query_state('q0', 'sf', lambda d: open(d + '/f', 'w').close())\n"
        "s = io.scratch_dir('q0')\n"
        "assert d.startswith(io._state_root()) and s.startswith(io._state_root())\n"
        "print(io._state_root())\n"
    )
    env = dict(os.environ, PYTHONPATH=str(PKG.parent), TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert root.startswith(str(tmp_path))
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []


_ALLOWED_MODULE_CONTAINERS = {
    # the catalog's query registry is filled by @query at import time —
    # it names queries, it holds no per-query state
    ("plans/catalog.py", "QUERIES"),
    # the one frame-pin registry, emptied by release_ranking_caches()
    ("operators/ranking.py", "_PINNED"),
    # Column-tree plan memo, no data; reuse across a restart is tested
    ("operators/dedup.py", "_EXPR_CACHE"),
}


def _empty_container(v: ast.expr) -> bool:
    if isinstance(v, ast.Dict):
        return not v.keys
    if isinstance(v, (ast.List, ast.Set)):
        return not v.elts
    return (
        isinstance(v, ast.Call)
        and isinstance(v.func, ast.Name)
        and v.func.id in ("dict", "list", "set", "defaultdict", "OrderedDict")
        and not v.args
    )


def _modules(*subs: str):
    for sub in subs:
        for path in sorted((PKG / sub).glob("*.py")):
            yield f"{sub}/{path.name}", ast.parse(path.read_text())


def _module_containers(rel: str, tree: ast.Module) -> list[str]:
    found = []
    for st in tree.body:
        if isinstance(st, ast.Assign):
            targets, value = st.targets, st.value
        elif isinstance(st, ast.AnnAssign) and st.value is not None:
            targets, value = [st.target], st.value
        else:
            continue
        for t in targets:
            name = ast.unparse(t)
            if _empty_container(value) and (rel, name) not in _ALLOWED_MODULE_CONTAINERS:
                found.append(f"{rel}:{st.lineno}: module-level {name} = empty container")
    return found


def test_plans_and_sinks_keep_no_state_of_their_own():
    """Per-query state belongs to io.query_state / io.scratch_dir: no
    plans/ or sinks/ module may create temp dirs itself or hold a
    module-level memo container."""
    found = []
    for rel, tree in _modules("plans", "sinks"):
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "mkdtemp"
                or isinstance(node, ast.alias)
                and node.name == "mkdtemp"
            ):
                found.append(f"{rel}:{node.lineno}: mkdtemp")
        found += _module_containers(rel, tree)
    assert not found, "\n".join(found)


def test_operators_hold_only_the_allowed_module_containers():
    """No operators/ module may grow a module-level memo container
    beyond the two listed in _ALLOWED_MODULE_CONTAINERS."""
    found = []
    for rel, tree in _modules("operators"):
        found += _module_containers(rel, tree)
    assert not found, "\n".join(found)


def test_only_pin_cache_persists_frames():
    """Every persisted frame in plans/ and operators/ goes through
    ranking.pin_cache, so release_ranking_caches() frees them all.
    (sinks/upsert.py keeps its own try/finally persist lifecycle.)"""
    found = []
    for rel, tree in _modules("plans", "operators"):
        allowed = set()
        if rel == "operators/ranking.py":
            pin = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "pin_cache"
            )
            allowed = {id(n) for n in ast.walk(pin)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
                and id(node) not in allowed
            ):
                found.append(f"{rel}:{node.lineno}: .{node.func.attr}()")
    assert not found, "\n".join(found)


def test_scan_parallelism_is_decided_only_in_io():
    """io.table lays every fixture scan out across the cores, so no
    plans/ or operators/ module re-spreads a scan: no import of a
    partitioning module, no inputFiles() probe, no repartition() sized
    from defaultParallelism."""
    found = []
    for rel, tree in _modules("plans", "operators"):
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                (node.module or "").split(".")[-1] == "partitioning"
                or any(a.name == "partitioning" for a in node.names)
            ):
                found.append(f"{rel}:{node.lineno}: imports operators.partitioning")
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "inputFiles":
                    found.append(f"{rel}:{node.lineno}: inputFiles()")
                args = [*node.args, *(k.value for k in node.keywords)]
                if node.func.attr == "repartition" and any(
                    "defaultParallelism" in ast.unparse(a) for a in args
                ):
                    found.append(f"{rel}:{node.lineno}: repartition(defaultParallelism)")
    assert not found, "\n".join(found)


def test_io_sets_no_session_conf():
    """Session conf has one owner, session.py: ``prep``, which the
    catalog's ``query()`` runs before every query, and ``conf_scope``.
    No other module sets or unsets conf (io.table returns
    conf-independent scans, and a conf flipped around a lazy frame is a
    race with every later action), and no plans/ module calls ``prep``
    itself."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Call):
                continue
            name = ast.unparse(n.func)
            attr = n.func.attr if isinstance(n.func, ast.Attribute) else None
            sets_conf = attr in ("set", "unset") and ast.unparse(n.func.value).endswith("conf")
            sql = ast.unparse(n.args[0]).strip("'\" ").upper() if n.args else ""
            if sets_conf or attr == "sql" and sql.startswith(("SET ", "RESET")):
                found.append(f"{rel}:{n.lineno}: {name}")
            if (
                rel.startswith("plans/")
                and rel != "plans/catalog.py"
                and name.split(".")[-1] == "prep"
            ):
                found.append(f"{rel}:{n.lineno}: {name}()")
    assert not found, "\n".join(found)


def test_queries_write_only_through_io():
    """Every file a query writes lives under io.query_state /
    io.scratch_dir: no plans/, operators/ or streaming/ module builds a
    path of its own in the temp dir, and none calls atomic_cached_write,
    whose path-keyed dirs outlived the process and served a rewritten
    fixture stale."""
    found = []
    for rel, tree in _modules("plans", "operators", "streaming"):
        for node in ast.walk(tree):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name in ("gettempdir", "atomic_cached_write"):
                found.append(f"{rel}:{node.lineno}: {name}")
    assert not found, "\n".join(found)


def test_no_hard_coded_tmp_paths():
    """Temp paths follow TMPDIR (tempfile.gettempdir()): a literal /tmp
    escapes a per-run TMPDIR and outlives the run, in the package and
    in its tests alike."""
    tmp = os.path.join(os.sep, "tmp")
    found = []
    for path in sorted([*PKG.rglob("*.py"), *Path(__file__).parent.rglob("*.py")]):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith(tmp)
            ):
                found.append(f"{path.relative_to(PKG.parent)}:{node.lineno}: {node.value!r}")
    assert not found, "\n".join(found)


def test_rewritten_fixture_is_not_served_stale(tmp_path, sf_dir):
    """A query's state never outlives its process: a fixture rewritten
    at the same path between two runs is read afresh by the second, and
    neither run leaves anything in TMPDIR."""
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), sf / f)
    code = (
        "import sys\n"
        "from marketingcloud_etl_spark.plans.catalog import load_all\n"
        "from marketingcloud_etl_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]')\n"
        "df = load_all()['q98_orc_roundtrip'].fn(spark, sys.argv[1])\n"
        "print(df.agg({'n': 'sum'}).first()[0])\n"
    )
    env = dict(os.environ, PYTHONPATH=str(PKG.parent), TMPDIR=str(tmp_path))

    def n_sum() -> int:
        out = subprocess.run(
            [sys.executable, "-c", code, str(sf)],
            env=env, capture_output=True, text=True, timeout=600, check=True,
        )
        return int(out.stdout.strip().splitlines()[-1])

    orders = pq.read_table(sf / "orders.parquet")
    assert n_sum() == orders.num_rows
    half = orders.slice(0, orders.num_rows // 2)
    pq.write_table(half, sf / "orders.parquet")
    assert n_sum() == half.num_rows
    assert os.listdir(tmp_path) == ["sf"]


def test_shim_zip_is_not_served_stale(tmp_path):
    """The protobuf shim zip is built once per process from that
    process's shim text: a second process with a changed text ships the
    change, and neither leaves a zip in TMPDIR. Activating the shim does
    not make it pass for a real protobuf distribution."""
    from marketingcloud_etl_spark import _pbcompat

    if not os.path.isdir(os.path.join(_pbcompat._GCLOUD_TP, "cloudsdk", "google", "protobuf")):
        pytest.skip("no bundled protobuf runtime on this machine")
    code = (
        "import sys, zipfile\n"
        "from marketingcloud_etl_spark import _pbcompat\n"
        "_pbcompat._GOOGLE_INIT += sys.argv[1]\n"
        "real = _pbcompat.real_protobuf_available()\n"
        "assert _pbcompat.activate()\n"
        "assert _pbcompat.real_protobuf_available() == real\n"
        "with zipfile.ZipFile(_pbcompat.shim_zip()) as z:\n"
        "    sys.stdout.write(z.read('google/__init__.py').decode())\n"
    )
    env = dict(os.environ, PYTHONPATH=str(PKG.parent), TMPDIR=str(tmp_path))

    def shipped(suffix: str) -> str:
        return subprocess.run(
            [sys.executable, "-c", code, suffix],
            env=env, capture_output=True, text=True, timeout=300, check=True,
        ).stdout

    assert shipped("") == _pbcompat._GOOGLE_INIT
    assert shipped("# patched\n") == _pbcompat._GOOGLE_INIT + "# patched\n"
    assert not [e for e in os.listdir(tmp_path) if e.startswith("mcetl_")]
