"""The staging writer: one batch into a fresh private dir.

A staging write puts a batch into a directory that no reader sees until
a commit adopts it: a merge-on-read delta dir, or the partitioned
table's staged ``partitionBy`` batch. Such a write has no reader to
coordinate with, so it needs none of Spark's file-commit protocol.

:func:`write_staged` has two writers and one contract. When the store
operation's small-plan scope pinned (``tuning.small_op``: its measured
store bytes plus batch plan size are under the threshold, 64 MiB by
default, the ``autoBroadcastJoinThreshold`` the session pins), the
driver collects the batch once with ``DataFrame.toArrow()`` and writes
each group as one file with ``pyarrow.parquet.write_table``: one
collect job instead of a Spark file-write job, whose fixed cost (the
committer, the task-side writers, the job's own set-up) is most of a
~100-row commit. Otherwise Spark writes it, as every big or unknown
batch must. A file from either writer reads back to the same rows and,
by schema inference, to the same types; a schema holding a type
outside :data:`_ARROW_EXACT` always takes the Spark writer.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# the dir partitionBy writes a NULL (or empty-string) value to
_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"

# leaf types whose Arrow-written parquet reads back as the same Spark
# type, by schema inference as well as under a DDL
_ARROW_EXACT = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.BinaryType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


def _arrow_exact(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        return all(_arrow_exact(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _arrow_exact(dt.elementType)
    if isinstance(dt, T.MapType):
        return _arrow_exact(dt.keyType) and _arrow_exact(dt.valueType)
    # a collated string would lose its collation, a CHAR/VARCHAR its
    # length: only the plain string type is exact
    return type(dt) in _ARROW_EXACT or dt == T.StringType()


def _unescape(name: str) -> str:
    """Reverse Spark's Hive-style %XX dir-name escaping (partitionBy
    escapes '%' itself, so one unescape pass is exact)."""
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def arrow_writes(df: DataFrame, small: bool) -> bool:
    """Whether ``df`` stages through the Arrow writer: ``small`` is the
    calling store operation's own scope decision (``tuning.small_op()``
    on the operation's thread, or passed on explicitly), and every
    column type of ``df`` reads back exactly."""
    return small and _arrow_exact(df.schema)


def write_staged(
    df: DataFrame, path: str, arrow: bool, by: str | None = None
) -> dict[str | None, str]:
    """Write ``df`` into the existing, empty private dir ``path``, by
    the Arrow writer when ``arrow`` (:func:`arrow_writes`), else by a
    Spark job.

    Without ``by`` the batch lands in ``path`` itself. With ``by`` (a
    string column) each value's rows land in their own subdir, without
    the column, and the result maps each value to its dir; a NULL value
    maps from None, and so does an empty string (Spark writes both to
    its default partition dir). The Arrow writer writes one file per
    value; the Spark writer writes one file per task holding the value,
    so a caller wanting one file shuffles on ``by`` first. An empty
    batch yields {} (and, without ``by``, one empty file holding the
    schema, as Spark writes)."""
    if arrow:
        return _write_arrow(df, path, by)
    w = df.write.mode("overwrite")  # the caller pre-created the dir
    if by is None:
        w.parquet(path)
        return {}
    w.partitionBy(by).parquet(path)
    out = {}
    for d in os.listdir(path):
        if d.startswith(f"{by}="):
            name = d.split("=", 1)[1]
            out[None if name == _NULL_DIR else _unescape(name)] = (
                os.path.join(path, d)
            )
    return out


def _write_arrow(df: DataFrame, path: str, by: str | None):
    table = df.toArrow()
    if by is None:
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        return {}
    keys = table.column(by).combine_chunks()
    # an empty value groups with NULL, as in Spark's default partition
    keys = pc.if_else(pc.equal(keys, ""), pa.scalar(None, keys.type), keys)
    # one sort, then each value's rows are one run of the sorted table
    order = pc.array_sort_indices(keys, null_placement="at_end")
    table = table.drop_columns([by]).take(order)
    runs = pc.run_end_encode(keys.take(order))
    out = {}
    start = 0
    for i, (end, value) in enumerate(
        zip(runs.run_ends.to_pylist(), runs.values.to_pylist())
    ):
        # no leading '_' or '.': Spark skips such a dir as hidden
        d = os.path.join(path, f"group-{i:05d}")
        os.mkdir(d)
        pq.write_table(
            table.slice(start, end - start),
            os.path.join(d, "part-00000.parquet"),
        )
        out[value] = d
        start = end
    return out
