"""Entity CSV sinks: golden-exact single-file mode + distributed mode.

The reference writes each entity to one CSV via Python's ``csv``
module with minimal quoting, doubled quotes, CRLF line endings, and a
header row even for zero-row runs (writer.py:34-46, golden fixtures).
Spark's CSV writer differs in quoting details and produces multi-part
output, so two sinks exist:

- :func:`write_entity_csv_exact` — driver-side ``csv.writer`` over
  ``toLocalIterator()`` of the document-ordered DataFrame: byte parity
  with the reference.  Use for golden comparison / modest outputs (the
  iterator streams partitions; driver holds one partition at a time).
- :func:`write_entity_csv_distributed` — ``df.write.csv`` with header,
  for scale: one file per partition, ``maxRecordsPerFile`` mapped from
  the config's batch_size heritage.
"""

from __future__ import annotations

import csv
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: lineage columns carried for document order (SURVEY.md §2.6 O2)
ORDER_COLS = ["page_no", "table_no", "row_no"]


def _stringify(df: DataFrame, columns: list[str]) -> DataFrame:
    """Flags and other non-strings serialize like the reference: ints
    as '0'/'1' (extractors.py:294-296), NULL as ''."""
    return df.select(
        *[F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in columns]
    )


def write_entity_csv_exact(
    df: DataFrame,
    path: Path | str,
    headers: list[str],
) -> int:
    """Write one golden-exact CSV; returns the data row count.

    A header row is always written — zero-match runs leave header-only
    files, as asserted by the reference's tests
    (tests/test_extractors.py:735-744).
    """
    out = _stringify(df.orderBy(*ORDER_COLS), headers)
    n = 0
    with open(path, "w", newline="", encoding="utf-8", buffering=1048576) as fh:
        w = csv.writer(fh)
        w.writerow(headers)
        for row in out.toLocalIterator():
            w.writerow(list(row))
            n += 1
    return n


def write_entity_csv_distributed(
    df: DataFrame,
    path: Path | str,
    headers: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Scale-mode CSV sink: parallel writers, document order within each
    file (sortWithinPartitions, without a global sort barrier)."""
    out = _stringify(df.sortWithinPartitions(*ORDER_COLS), headers)
    # RFC 4180 doubled quotes like the exact sink; Spark's default
    # backslash escape reads back wrong in csv readers (coordinates
    # carry '"' seconds marks)
    writer = out.write.mode("overwrite").option("header", True).option("escape", '"')
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.csv(str(path))


def write_all_entities(
    entities: dict[str, DataFrame],
    destination: Path | str,
    output_name: str,
    config,
    exact: bool = True,
) -> dict[str, int]:
    """Multi-sink fan-out (SURVEY.md §2.1 S6): write every entity from
    one extraction pass.  Returns per-entity row counts."""
    destination = Path(destination)
    destination.mkdir(parents=True, exist_ok=True)
    counts: dict[str, int] = {}
    for area, df in entities.items():
        dc = config.data[area]
        if "parent_code" in df.columns:
            # entity outputs name their parent column per level
            # (province_code / regency_code / district_code)
            df = df.withColumnRenamed("parent_code", dc.output_headers[1])
        target = destination / f"{output_name}.{dc.filename_suffix}.csv"
        if exact:
            counts[area] = write_entity_csv_exact(df, target, dc.output_headers)
        else:
            write_entity_csv_distributed(
                df, target, dc.output_headers,
                max_records_per_file=dc.batch_size,
            )
            counts[area] = -1
    return counts
