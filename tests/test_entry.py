"""Contracts other code relies on from outside the library: the package
archive `__spark_entry__` ships to Python workers, and the functions the
benchmark's tracer wraps."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import tempfile
import zipfile
from pathlib import Path
from types import SimpleNamespace

REPO = Path(__file__).resolve().parents[1]


def _load(path: Path, name: str, monkeypatch):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    # dataclasses look their module up in sys.modules
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    return mod


def test_worker_archive_matches_current_package(tmp_path, monkeypatch):
    """A stale archive at the pid-named path earlier versions reused must
    not be shipped: the archive's members are this checkout's sources."""
    entrymod = _load(REPO / "__spark_entry__.py", "entrymod_ship", monkeypatch)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"refine_spark_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("refine_spark/multimodal.py", "STALE = True\n")

    shipped: list[str] = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    entrymod._ensure_workers_can_import(fake)

    assert len(shipped) == 1
    with zipfile.ZipFile(shipped[0]) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    expected = {
        f"refine_spark/{p.name}": p.read_bytes()
        for p in (REPO / "refine_spark").glob("*.py")
    }
    assert members == expected


def test_traced_spans_resolve(monkeypatch):
    """Every (module, function) the benchmark's tracer wraps still exists:
    a rename would otherwise break traced runs without failing a test."""
    spans = _load(REPO / "perfbench" / "spans.py", "perfbench_spans", monkeypatch)
    assert spans.SPANS
    for mod_name, qual in spans.SPANS:
        obj = importlib.import_module(mod_name)
        for attr in qual.split("."):
            obj = getattr(obj, attr)
        assert callable(obj), f"{mod_name}.{qual} is not callable"


def test_library_reads_every_parameter():
    """Every parameter of every library `def` is read in its body, and
    every DedupConfig field is read somewhere in the library: a
    parameter or field nothing reads is a setting that silently does
    nothing. Lambdas are exempt — a callback's arity is fixed by its
    caller."""
    import ast
    import dataclasses

    from refine_spark.config import DedupConfig

    unread, attrs = [], set()
    for path in sorted((REPO / "refine_spark").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                attrs.add(node.attr)
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            params = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
            read = {
                n.id
                for stmt in node.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            unread += [
                f"{path.stem}.{node.name}.{p.arg}"
                for p in params
                if p is not None and p.arg not in read
            ]
    unread += [
        f"DedupConfig.{f.name}"
        for f in dataclasses.fields(DedupConfig)
        if f.name not in attrs
    ]
    assert not unread, f"parameters never read: {unread}"

