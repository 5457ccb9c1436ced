"""Bench coverage contract: bench.HEADLINE is every registered query not in
bench.BENCH_EXEMPT, so a new queries() key is benched by construction.
These checks keep the hand-written lists (BENCH_EXEMPT, CORE) pointing at
real keys.  Pure registry arithmetic: no Spark session needed."""

from __future__ import annotations

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load():
    bench = importlib.import_module("bench")
    entry = importlib.import_module("__spark_entry__")
    return bench, entry


def test_bench_lists_are_clean():
    bench, entry = _load()
    registry = set(entry.queries())
    headline = set(bench.HEADLINE)
    exempt = set(bench.BENCH_EXEMPT)
    assert not headline & exempt, sorted(headline & exempt)
    # no dangling names pointing at renamed/removed queries
    assert headline <= registry, sorted(headline - registry)
    assert exempt <= registry, sorted(exempt - registry)
    # no duplicates inside the lists themselves
    assert len(bench.HEADLINE) == len(headline)
    assert len(bench.BENCH_EXEMPT) == len(exempt)
    assert len(bench.CORE) == len(set(bench.CORE))
    # CORE rides inside HEADLINE
    assert set(bench.CORE) <= headline, sorted(set(bench.CORE) - headline)
