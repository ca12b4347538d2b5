"""Row-dict transformers for the ``etl_keyed`` pipeline.

They follow the package's plugin contract (no-arg constructor,
``filter(row_dict) -> row_dict``, loaded by dotted path) and run on
Spark's Python workers, which is why the benchmark puts this module's
directory on ``PYTHONPATH``.  The SQL in ``workloads.ETL_TRANSFORM_SQL``
is their DuckDB replay; keep the two in step.
"""

from __future__ import annotations


class OrderBand:
    """Adds ``band`` (order size class) and ``prio`` (numeric priority)."""

    def filter(self, row: dict) -> dict:  # noqa: A003 - plugin API name
        if row["n_lines"] >= 6:
            row["band"] = "BULK"
        elif row["gross_cents"] >= 20_000_000:
            row["band"] = "LARGE"
        else:
            row["band"] = "SMALL"
        row["prio"] = int(row["o_orderpriority"][0])
        return row


class LineAverage:
    """Adds ``avg_line_cents``, the mean line value in whole cents."""

    def filter(self, row: dict) -> dict:  # noqa: A003
        row["avg_line_cents"] = row["gross_cents"] // row["n_lines"]
        return row
