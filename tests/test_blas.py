"""The OpenBLAS kernel the engine's processes run: the CPU-flag rule that
picks ``OPENBLAS_CORETYPE``, the core a fresh driver loads, and the core
every Python worker loads."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from relation_extraction_cdr_spark import _cpu_flags, openblas_coretype

ROOT = Path(__file__).resolve().parent.parent

AVX512 = {"sse3", "avx", "avx2", "fma", "avx512f", "avx512bw", "avx512vl", "avx512dq"}


def _corename_probe():
    """A function returning the core name of the OpenBLAS numpy loaded in
    the calling process, or None when numpy is not built on OpenBLAS.
    Nested, so Spark ships it to workers by value."""

    def corename():
        import ctypes

        import numpy  # noqa: F401  (loads numpy's BLAS)

        with open("/proc/self/maps") as f:
            libs = {ln.split()[-1] for ln in f if "openblas" in ln.rsplit("/", 1)[-1]}
        for path in sorted(libs):
            lib = ctypes.CDLL(path)
            for sym in ("openblas_get_corename64_", "openblas_get_corename"):
                fn = getattr(lib, sym, None)
                if fn is not None:
                    fn.restype = ctypes.c_char_p
                    return fn().decode()
        return None

    return corename


@pytest.mark.parametrize(
    "flags, environ, modules, want",
    [
        (AVX512, {}, (), "SkylakeX"),
        (AVX512 - {"avx512dq"}, {}, (), "Haswell"),
        ({"sse3", "avx", "avx2", "fma"}, {}, (), "Haswell"),
        ({"sse3", "avx", "avx2"}, {}, (), None),
        ({"sse3", "avx"}, {}, (), None),
        (set(), {}, (), None),
        (AVX512, {"OPENBLAS_CORETYPE": "Prescott"}, (), None),
        (AVX512, {"OPENBLAS_CORETYPE": ""}, (), None),
        (AVX512, {}, ("numpy",), None),
    ],
    ids=["avx512", "avx512-no-dq", "avx2", "avx2-no-fma", "avx", "no-cpuinfo",
         "user-set", "user-set-empty", "numpy-imported"],
)
def test_coretype_rule(flags, environ, modules, want):
    assert openblas_coretype(flags, environ, modules) == want


def test_cpu_flags_reads_first_flags_line(tmp_path):
    info = tmp_path / "cpuinfo"
    info.write_text("processor\t: 0\nflags\t\t: fpu avx2 fma\n\nprocessor\t: 1\nflags\t\t: fpu\n")
    assert _cpu_flags(str(info)) == {"fpu", "avx2", "fma"}
    assert _cpu_flags(str(tmp_path / "absent")) == frozenset()


def _fresh_corename(env: dict[str, str]) -> str | None:
    code = (
        "import relation_extraction_cdr_spark, numpy\n"
        "from test_blas import _corename_probe\n"
        "print(_corename_probe()())\n"
    )
    env = dict(env, PYTHONPATH=os.pathsep.join((str(ROOT), str(ROOT / "tests"))))
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT,
                         capture_output=True, text=True, check=True, timeout=120)
    name = out.stdout.strip().splitlines()[-1]
    return None if name == "None" else name


def test_fresh_driver_loads_a_vector_core():
    """Importing the engine before numpy makes OpenBLAS load the core the
    CPU flags name instead of its own detection, which falls back to the
    SSE3 Prescott kernels on CPU models it does not know."""
    if openblas_coretype(_cpu_flags(), {}, ()) is None:
        pytest.skip("CPU has neither AVX-512 nor AVX2+FMA")
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    name = _fresh_corename(env)
    if name is None:
        pytest.skip("numpy is not built on OpenBLAS")
    assert name != "Prescott"
    # a user-set value is never overridden
    assert _fresh_corename(dict(env, OPENBLAS_CORETYPE="Prescott")) == "Prescott"


def test_workers_load_the_drivers_core(spark):
    """Local-mode Python workers inherit OPENBLAS_CORETYPE through the
    JVM's environment, so every worker runs the driver's kernel (the
    driver-vs-worker bit-equality tests depend on it)."""
    corename = _corename_probe()
    driver = corename()
    if driver is None:
        pytest.skip("numpy is not built on OpenBLAS")
    n = spark.sparkContext.defaultParallelism
    names = (
        spark.sparkContext.parallelize(range(n), n)
        .mapPartitions(lambda _: [corename()])
        .collect()
    )
    assert len(names) == n and set(names) == {driver}
