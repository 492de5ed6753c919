"""Round-13 optimization equivalence pins.

BLAS threadpool pinning in the PQ trainer (similarity._single_thread_blas):
pq_train now runs its subspace Lloyd loops with the process BLAS pool pinned
to 1 thread — the skinny (n x 4) @ (4 x 256) matmuls are ~7.6x slower under
OpenBLAS's full 32-thread pool (r12's "pq cold 6.4s -> 25s" regression).

The zero-result-change contract rests on a SHAPE-DEPENDENT property:
OpenBLAS dgemm for dsub=4 (every committed pq_train call site: m=16 over
dim-64 vectors) returns byte-equal output at 1 vs 2 vs 32 threads for every
sample size in play (n = 100..16384 swept, incl. the committed corpus sizes
500/2000 and the 16384 cap). For WIDER inner dims it does NOT hold —
(n, 8) @ (8, 256) and (n, 64) @ (64, 16) differ in the last ulp across
thread counts (the k-dim reduction is split) — which is exactly why
_train_centroids (the IVF coarse quantizer, d=64) is deliberately NOT
pinned. These tests pin both sides of that line so a numpy/OpenBLAS upgrade
that moves it fails loudly instead of silently changing ANN outputs.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pytest

from aircan_spark.ext import similarity as S


def _run_without_pinning(fn, *args, **kwargs):
    """Run a trainer with the thread-pinning context disabled (the
    pre-r13 execution: whatever thread count the pool currently has)."""
    orig = S._single_thread_blas
    S._single_thread_blas = contextlib.nullcontext
    try:
        return fn(*args, **kwargs)
    finally:
        S._single_thread_blas = orig


def test_blas_controls_discoverable():
    """The sandbox's numpy links a controllable OpenBLAS; if this ever
    stops holding, the pinning silently degrades to a no-op (correct but
    slow) — surface it."""
    assert len(S._blas_thread_controls()) >= 1


def test_single_thread_blas_sets_and_restores():
    controls = S._blas_thread_controls()
    if not controls:
        pytest.skip("no controllable BLAS in this environment")
    getter, _ = controls[0]
    before = int(getter())
    with S._single_thread_blas():
        assert int(getter()) == 1
    assert int(getter()) == before


def test_single_thread_blas_interleaved_threads_restore_original():
    """Two driver threads interleave entry and exit (A in, B in, A out,
    B out): the pool stays at 1 thread while either is inside, and ends at
    its original size, not at the 1 thread B saw on entry."""
    import threading

    controls = S._blas_thread_controls()
    if not controls:
        pytest.skip("no controllable BLAS in this environment")
    getter, setter = controls[0]
    before = int(getter())
    setter(3)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def a():
        with S._single_thread_blas():
            a_in.set()
            b_in.wait(10)
        a_out.set()

    def b():
        a_in.wait(10)
        with S._single_thread_blas():
            b_in.set()
            a_out.wait(10)
            seen["inside_b_after_a_exit"] = int(getter())

    try:
        threads = [threading.Thread(target=f) for f in (a, b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        assert not any(t.is_alive() for t in threads)
        assert seen == {"inside_b_after_a_exit": 1}
        assert int(getter()) == 3
    finally:
        setter(before)


def test_single_thread_blas_many_threads_stress():
    """More threads than cores enter and exit the pin in a tight loop with
    a short switch interval: every thread sees 1 thread inside, and the
    pool ends at its original size (a lost refcount update breaks one)."""
    import sys
    import threading

    controls = S._blas_thread_controls()
    if not controls:
        pytest.skip("no controllable BLAS in this environment")
    getter, setter = controls[0]
    before = int(getter())
    interval = sys.getswitchinterval()
    wrong = []

    def loop():
        for _ in range(200):
            with S._single_thread_blas():
                if int(getter()) != 1:
                    wrong.append(int(getter()))

    setter(3)
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=loop) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert wrong == []
        assert int(getter()) == 3
    finally:
        sys.setswitchinterval(interval)
        setter(before)


def test_pq_train_bit_identical_under_thread_pinning():
    """pq_train (the ONLY pinned trainer) returns byte-equal codebooks
    with and without the pin, at the committed dsub=4 shape."""
    for n in (100, 500, 2000):
        rng = np.random.default_rng(7)
        mat = rng.standard_normal((n, 64))
        pinned = S.pq_train(None, m=16, ksub=256, iters=5, seed=42, sample_mat=mat)
        free = _run_without_pinning(
            S.pq_train, None, m=16, ksub=256, iters=5, seed=42, sample_mat=mat
        )
        assert pinned.tobytes() == free.tobytes(), n


def test_dgemm_bit_identical_for_dsub4_shapes():
    """The underlying property pq_train's pin relies on: for inner dim 4
    (the committed m=16 subspace width), OpenBLAS dgemm is byte-equal at
    any thread count for every sample size in play."""
    controls = S._blas_thread_controls()
    if not controls:
        pytest.skip("no controllable BLAS in this environment")
    getter, setter = controls[0]
    before = int(getter())
    rng = np.random.default_rng(0)
    try:
        for n in (100, 200, 500, 512, 1000, 2000, 4096, 16384):
            a = rng.standard_normal((n, 4))
            b = rng.standard_normal((4, 256))
            setter(max(before, 2))
            many = a @ b
            setter(1)
            one = a @ b
            assert one.tobytes() == many.tobytes(), n
    finally:
        setter(before)


def test_train_centroids_not_pinned():
    """_train_centroids' (n, 64) @ (64, nlist) assign matmul is NOT
    bit-identical across thread counts at the committed corpus sizes
    (measured r13: n in {500, 1000, 2000} differ in the last ulp), so it
    must run UNPINNED to keep IVF cell assignments byte-equal to every
    prior round. Guard: the function body must not enter the pinning
    context (if the pool is multi-threaded, it stays multi-threaded)."""
    controls = S._blas_thread_controls()
    if not controls:
        pytest.skip("no controllable BLAS in this environment")
    getter, setter = controls[0]
    before = int(getter())
    observed = []

    class _Probe:
        """Stand-in sample matrix that records the BLAS thread count the
        first time the trainer touches it inside the Lloyd loop."""

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((256, 64))
    try:
        setter(max(before, 2))
        # run the real trainer and check the pool was never dropped to 1
        S._train_centroids(None, "v", 8, 42, iters=2, sample_mat=mat)
        observed.append(int(getter()))
    finally:
        setter(before)
    assert observed == [max(before, 2)]
