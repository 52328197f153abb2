"""Query-profile counters the engine reads from its own driver JVM.

Each reader returns a cumulative snapshot and costs no Spark job; a
caller takes one before and one after the work it profiles and
subtracts. The counters are per JVM, so they include every session and
thread in it.
"""

from __future__ import annotations

from typing import NamedTuple


class CodegenStats(NamedTuple):
    compiles: int
    compile_ms: float


def codegen_stats(spark) -> CodegenStats:
    """Generated classes Janino has compiled in this JVM, and the time it took.

    Spark compiles a generated class only on a miss in its static class
    cache (``spark.sql.codegen.cache.maxEntries``), so the difference
    between two readings counts the classes the work in between
    generated and could not reuse. The count is the sample count of
    ``CodegenMetrics.METRIC_COMPILATION_TIME``. The time is
    ``CodeGenerator.compileTime``, the nanosecond total that the same
    compile path adds to; the histogram keeps only a sample of its
    values, so summing it would undercount once it holds more than its
    reservoir.
    """
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return CodegenStats(hist.getCount(), codegen.compileTime() / 1e6)
