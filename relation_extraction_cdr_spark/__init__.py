"""relation_extraction_cdr_spark — a PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference repo ``thaiduongx26/relation_extraction_cdr`` (see SURVEY.md).

Brand-new Spark-first design, NOT a port: logical plans are declared with
the DataFrame/SQL API (Catalyst + Tungsten pick the physical strategy);
Python only runs inside Arrow-batched pandas UDFs (never per-row).

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, adaptive skew join)
- ``sources``    PubTator / MeSH-tree / pages readers, sinks
- ``functions``  scalar text/similarity/quality column expressions
- ``operators``  mentions, candidates (+Levi filter), evidence, dedup, ANN
- ``scoring``    deterministic batch scorer (pandas-UDF shaped)
- ``plans``      end-to-end triple-factory pipeline + metrics
- ``streaming``  incremental / resumable execution (checkpoint lineage)
- ``refdata``    the one resolver for data shipped with the reference repo

BLAS kernel
-----------
OpenBLAS picks its kernel set once, when numpy loads it, and a build that
does not know the CPU model falls back to its SSE3 ``Prescott`` kernels
(several times slower sgemm than the AVX2 or AVX-512 ones).  Importing
this package before numpy therefore exports ``OPENBLAS_CORETYPE`` from the
CPU flags (``openblas_coretype``).  The JVM that ``session.spark_session``
starts inherits the variable, and so do local-mode Python workers, so the
driver and its workers run the same kernel.  A value the user exported is
never overridden, and nothing is set once numpy is loaded (the driver
would then run a different kernel than its workers).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Container, Iterable, Mapping

__version__ = "0.1.0"

_AVX512 = frozenset(("avx512f", "avx512bw", "avx512vl", "avx512dq"))
_AVX2 = frozenset(("avx2", "fma"))


def openblas_coretype(
    flags: Iterable[str], environ: Mapping[str, str], modules: Container[str]
) -> str | None:
    """The ``OPENBLAS_CORETYPE`` to export for these CPU ``flags``, or
    None to leave the environment alone: ``SkylakeX`` with AVX-512
    F/BW/VL/DQ, ``Haswell`` with AVX2 + FMA, None otherwise, and None
    when the variable is already set or numpy is already in
    ``modules``."""
    if "OPENBLAS_CORETYPE" in environ or "numpy" in modules:
        return None
    flags = frozenset(flags)
    if _AVX512 <= flags:
        return "SkylakeX"
    if _AVX2 <= flags:
        return "Haswell"
    return None


def _cpu_flags(path: str = "/proc/cpuinfo") -> frozenset[str]:
    """The first ``flags`` line of ``path``; empty when it is absent."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("flags"):
                    return frozenset(line.partition(":")[2].split())
    except OSError:
        pass
    return frozenset()


if (_core := openblas_coretype(_cpu_flags(), os.environ, sys.modules)) is not None:
    os.environ["OPENBLAS_CORETYPE"] = _core
