"""Fixtures for the benchmark's own tests. Scratch files stay inside the
checkout, under .chatbench_run/ (ignored by git)."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def bench_work():
    work = os.path.join(ROOT, ".chatbench_run", f"pytest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    yield work
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture()
def bench_tmp(bench_work, request):
    path = os.path.join(bench_work, request.node.name)
    os.makedirs(path)
    return path
