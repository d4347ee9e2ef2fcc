"""Document chunking UDTF: fixed-size token windows with stride.

The context-window preparation step of a training pipeline: each document
fans out into overlapping (or tiling, stride == size) token chunks. A
row-to-many-rows transform is exactly what Spark's Python UDTF surface
(user-defined TABLE function, Spark 3.5+) models: `eval` yields any
number of output rows per input row, and the planner treats the call as a
lateral generator join — the fan-out happens executor-side, streamed, and
never materializes a per-document array on the driver.

This is deliberately the one operator here on the UDTF surface (the rest
of the engine stays on built-in JVM expressions): chunk boundaries need
tokenizer-faithful slicing, which a real pipeline does with its actual
tokenizer (a Python library) — so the Python row boundary is the honest
shape.

The UDTF pins its own evaluation path, `useArrow=False`. Left unset,
Spark picks the path from the session's
`spark.sql.execution.pythonUDTF.arrow.enabled` as it stands when the class
is decorated, i.e. at import. The row path is also the faster one here:
at sf0.1 on 4 cores the Arrow path (`ArrowEvalPythonUDTF`) took ~1.2 s a
run against ~0.45 s for the row path (`BatchEvalPythonUDTF`), which is
what this UDTF has run on since it was added.
"""

from __future__ import annotations

from pyspark.sql.functions import lit, udtf


@udtf(
    returnType="chunk_idx int, chunk_text string, chunk_tokens int",
    useArrow=False,
)
class TokenChunker:
    """Yield token windows [i*stride, i*stride+size) per document.

    Tokenization is whitespace splitting (str.split() == trim + split on
    \\s+ runs), matching functions/text.py tokens() and the DuckDB oracle
    twin string_split_regex(lower(trim(text)), '\\s+').
    """

    def eval(self, text: str, size: int, stride: int):  # noqa: D102
        if text is None or size <= 0 or stride <= 0:
            return
        toks = text.lower().strip().split()
        idx = 0
        for start in range(0, len(toks), stride):
            chunk = toks[start : start + size]
            yield idx, " ".join(chunk), len(chunk)
            idx += 1


def register_chunker(spark) -> None:
    """Register the UDTF for SQL lateral use: `..., LATERAL token_chunker(...)`."""
    spark.udtf.register("token_chunker", TokenChunker)


__all__ = ["TokenChunker", "register_chunker", "lit"]
