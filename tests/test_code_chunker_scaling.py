"""Code chunking time grows linearly with file size.

A class's context (header, fields, constructor) is built once per class,
the Python assignment-target set and the glob imports once per file;
rebuilding any of them per chunk made chunking quadratic in the number of
chunks.  C registers every struct as an import, so the glob scan ran over
all of them once per function.
"""

from __future__ import annotations

import gc
import time

import pytest

from docling_core_spark.functions.code_chunker import chunk_python_code
from docling_core_spark.functions.code_chunker_c import chunk_c_code
from docling_core_spark.functions.code_chunker_java import chunk_java_code


def _java_class(n: int) -> str:
    methods = "".join(
        f"    // method {i}\n    int m{i}(int x) {{\n        return x + {i};\n    }}\n"
        for i in range(n)
    )
    return f"import java.util.List;\n\npublic class Big {{\n    private int f = 1;\n\n{methods}}}\n"


def _python_class(n: int) -> str:
    methods = "".join(
        f"    # method {i}\n    def m{i}(self, x):\n        return x + LIMIT + {i}\n\n"
        for i in range(n)
    )
    return f"import os\n\nLIMIT = 3\n\n\nclass Big:\n    field = 1\n\n{methods}"


def _python_module(n: int) -> str:
    funcs = "".join(f"def f{i}(x):\n    y = x + LIMIT\n    return os.sep + str(y)\n\n\n" for i in range(n))
    return f"import os\n\nLIMIT = 3\n\n\n{funcs}"


def _c_file(n: int) -> str:
    # small pairs, so the per-chunk work over every struct outgrows the lexer
    return "".join(f"struct s{i} {{ int a; }};\nint f{i}(void) {{ return {i}; }}\n" for i in range(n))


def _best_of_3(chunker, code: str) -> float:
    # freeze the live heap: a full collection in the timed runs would walk
    # every object the test process holds, a cost that is not the chunker's
    gc.collect()
    gc.freeze()
    try:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            n = len(list(chunker(code)))
            best = min(best, time.perf_counter() - t0)
    finally:
        gc.unfreeze()
    assert n > 1
    return best


@pytest.mark.parametrize(
    "chunker,source,n",
    [
        (chunk_java_code, _java_class, 200),
        (chunk_python_code, _python_class, 200),
        (chunk_python_code, _python_module, 120),
        (chunk_c_code, _c_file, 2000),
    ],
    ids=["java_class", "python_class", "python_module", "c_file"],
)
def test_chunking_time_is_linear_in_file_size(chunker, source, n):
    small = _best_of_3(chunker, source(n))
    large = _best_of_3(chunker, source(4 * n))
    assert large < 8 * small, f"4x the methods took {large / small:.1f}x the time"
