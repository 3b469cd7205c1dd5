"""Python workers: the package imports from any working directory, and a
worker's per-task ``importlib.invalidate_caches()`` re-reads only zip
archives that changed (``worker_imports``)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

import pytest

from aws_etl_global_footprint_network_spark.operators.multimodal_codecs import (
    audio_wav_features,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_rereading_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads on CPython >= 3.13",
)


def _run_python(code: str, cwd, env=None, timeout=60) -> str:
    if env is None:
        env = {**os.environ, "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


@needs_rereading_zipimport
def test_worker_invalidate_caches_reads_no_unchanged_archive(spark, sf_dir):
    assert audio_wav_features(spark, sf_dir).count() == 500

    def probe(batches):
        # Runs in a worker; must not import the package itself, so that
        # "imported" tells whether this worker ran an engine kernel.
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        imported = "aws_etl_global_footprint_network_spark" in sys.modules
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame(
            {
                "imported": [imported],
                "hook": [sys.path_hooks[0].__name__],
                "reads": [len(reads)],
            }
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(probe, "imported boolean, hook string, reads long")
        .collect()
    )
    warm = [r for r in rows if r.imported]
    assert warm, rows
    for r in warm:
        assert (r.hook, r.reads) == ("StampedZipImporter", 0), rows


@needs_rereading_zipimport
def test_rewritten_zip_is_reread_and_new_module_imports(tmp_path):
    out = _run_python(
        f"""
        import importlib, sys, zipfile, zipimport
        from aws_etl_global_footprint_network_spark import worker_imports

        archive = {str(tmp_path / "mods.zip")!r}

        def write(modules):
            with zipfile.ZipFile(archive, "w") as z:
                for name, body in modules.items():
                    z.writestr(name + ".py", body)

        def counted_invalidate():
            reads = []
            read_directory = zipimport._read_directory
            zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            return reads.count(archive)

        write({{"zmod_a": "A = 1"}})
        sys.path.insert(0, archive)
        import zmod_a  # read by a plain zipimporter

        worker_imports.install()
        assert archive not in sys.path_importer_cache
        write({{"zmod_a": "A = 1", "zmod_b": "B = 2"}})
        import zmod_b  # the importer re-created through the hook sees it

        assert type(sys.path_importer_cache[archive]) is worker_imports.StampedZipImporter
        assert counted_invalidate() == 0
        write({{"zmod_a": "A = 1", "zmod_b": "B = 2", "zmod_c": "C = 3"}})
        assert counted_invalidate() == 1
        import zmod_c

        assert (zmod_b.B, zmod_c.C) == (2, 3)
        assert counted_invalidate() == 0
        print("ok")
        """,
        cwd=tmp_path,
    )
    assert out.strip() == "ok"


def test_driver_import_leaves_import_state_alone(tmp_path):
    out = _run_python(
        f"""
        import sys, zipfile, zipimport
        import pyspark

        archive = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod_a.py", "A = 1")
        sys.path.insert(0, archive)
        import zmod_a
        assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter
        hooks = list(sys.path_hooks)
        cache = dict(sys.path_importer_cache)

        import aws_etl_global_footprint_network_spark

        assert len(sys.path_hooks) == len(hooks)
        assert all(a is b for a, b in zip(sys.path_hooks, hooks))
        assert all(sys.path_importer_cache.get(k) is v for k, v in cache.items())
        print("ok")
        """,
        cwd=tmp_path,
    )
    assert out.strip() == "ok"


def test_kernel_query_runs_from_any_cwd_without_pythonpath(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = _run_python(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from aws_etl_global_footprint_network_spark.operators.multimodal_codecs import (
            audio_wav_features,
        )
        from aws_etl_global_footprint_network_spark.session import get_spark

        spark = get_spark(app_name="any_cwd")
        print(audio_wav_features(spark, {sf_dir!r}).count())
        spark.stop()
        """,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert out.strip().splitlines()[-1] == "500"


KERNEL_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _is_kernel_mark(decorator: ast.expr) -> bool:
    return isinstance(decorator, ast.Name) and decorator.id == "kernel"


def _unmarked_kernels(tree: ast.Module) -> list[str]:
    defs: dict[str, list[ast.FunctionDef]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            defs.setdefault(node.name, []).append(node)

    def marked(fn: ast.FunctionDef) -> bool:
        return any(_is_kernel_mark(d) for d in fn.decorator_list)

    def returns_marked(fn: ast.FunctionDef) -> bool:
        # A kernel factory: returns a nested, marked def.
        return any(
            isinstance(n, ast.FunctionDef) and n is not fn and marked(n)
            for n in ast.walk(fn)
        )

    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            uses_udf = any(
                ast.unparse(d.func if isinstance(d, ast.Call) else d).endswith(
                    "pandas_udf"
                )
                for d in node.decorator_list
            )
            if uses_udf and not marked(node):
                bad.append(f"{node.name}:{node.lineno}")
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in KERNEL_METHODS
            and node.args
        ):
            continue
        arg = node.args[0]
        if isinstance(arg, ast.Name):
            ok = bool(defs.get(arg.id)) and all(marked(f) for f in defs[arg.id])
        elif isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            ok = bool(defs.get(arg.func.id)) and all(
                returns_marked(f) for f in defs[arg.func.id]
            )
        else:
            ok = False
        if not ok:
            bad.append(f"{node.func.attr}({ast.unparse(arg)}):{node.lineno}")
    return bad


def test_every_python_kernel_is_marked():
    """A kernel cloudpickle ships by value may carry no reference to the
    package; ``@kernel`` adds one, so every worker that runs an engine
    kernel imports the package and installs the importer."""
    pkg = os.path.join(REPO, "aws_etl_global_footprint_network_spark")
    bad, n_files = [], 0
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                src = f.read()
            if not any(m in src for m in (*KERNEL_METHODS, "pandas_udf")):
                continue
            n_files += 1
            rel = os.path.relpath(path, pkg)
            bad += [f"{rel}:{b}" for b in _unmarked_kernels(ast.parse(src))]
    assert n_files >= 9
    assert not bad, bad
