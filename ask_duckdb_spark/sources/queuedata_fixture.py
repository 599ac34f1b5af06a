"""Deterministic queuedata-shaped fixture + matching data dictionary.

The driver fixtures carry no ``queuedata`` table, so tests synthesize
one here (FIXTURES.md §2): a compact slice of the reference's data
model — enough columns to replay all three README examples
(reference: README.md:54-65) and every repair-pipeline behavior:

- dirty ``status`` casing (exercises R3/R5)
- ``copytools`` JSON with and without the ``rucio`` key (README ex. 2,
  recipe queuedata.schema.json:246-252)
- ``country`` values canonicalized from colloquial terms via
  ``map_values`` (README ex. 3, queuedata.schema.json:390-399)
- aliases ``name``→queue, ``state``→status, ``ncores``→corecount
  (queuedata.schema.json:10, FIXTURES.md dirty-data requirements)

Everything is derived from row index ``i`` — no RNG, stable across
sessions and engines.

The frame is built with ``sources.catalog.local_frame``. A Python
list handed to ``createDataFrame`` becomes a Python RDD, and every scan
of it re-runs Python workers to unpickle the 60 rows (four worker tasks
per question over queuedata). An Arrow table becomes a LocalRelation:
the rows sit in the plan and the JVM scans them (``LocalTableScan``).
The frame is one partition (``coalesce(1)``, which adds no shuffle), as
``register_views`` makes a one-task fixture table: an aggregate or an
ORDER BY over the 60 rows plans no exchange and runs as one job, not
as a shuffle or a range-partitioned sort that AQE splits into jobs.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .catalog import local_frame

__all__ = ["queuedata_rows", "queuedata_df", "queuedata_dictionary"]

N_ROWS = 60

_STATUSES = ("online", "offline", "test", "brokeroff")
_CLOUDS = ("CA", "CERN", "DE", "ES", "FR", "IT", "ND", "NL", "RU", "UK", "US", "WORLD")
_COUNTRIES = (
    "United States", "Germany", "France", "Italy", "United Kingdom", "Canada"
)
_SUITES = ("AFT", "PFT", "PFT_MCORE", "GPU", "ARM")


def queuedata_rows(n: int = N_ROWS) -> list[dict[str, Any]]:
    rows: list[dict[str, Any]] = []
    for i in range(n):
        status = _STATUSES[i % len(_STATUSES)]
        # dirty casing on every 7th row (FIXTURES.md dirty-data reqs)
        if i % 7 == 0:
            status = status.upper()
        copytools: dict[str, Any] = {}
        if i % 3 != 0:  # two thirds of queues use rucio
            copytools["rucio"] = {"setup": ""}
        if i % 4 == 0:
            copytools["xrdcp"] = {"setup": f"/opt/xrootd/{i}"}
        suite = [_SUITES[j] for j in range(len(_SUITES)) if (i >> j) & 1]
        rows.append(
            {
                "id": i,
                "queue": f"SITE_QUEUE_{i}",
                "status": status,
                "cloud": _CLOUDS[i % len(_CLOUDS)],
                "country": _COUNTRIES[i % len(_COUNTRIES)],
                "corecount": None if i % 10 == 9 else 1 + (i * 7) % 256,
                "corepower": round(5.0 + (i % 50) / 10.0, 2),
                "copytools": json.dumps(copytools, sort_keys=True),
                "hc_suite": json.dumps(suite),
                "harvester": None if i % 6 == 5 else f"CERN_central_{chr(65 + i % 3)}",
                "harvester_template": (
                    None if i % 5 == 4 else "" if i % 5 == 3 else "production.push"
                ),
            }
        )
    return rows


_SCHEMA = (
    "id bigint, queue string, status string, cloud string, country string,"
    " corecount int, corepower double, copytools string, hc_suite string,"
    " harvester string, harvester_template string"
)


def queuedata_df(spark: SparkSession, n: int = N_ROWS) -> DataFrame:
    return local_frame(spark, queuedata_rows(n), _SCHEMA).coalesce(1)


def queuedata_dictionary() -> dict[str, Any]:
    """Data dictionary matching the fixture, reference-shaped.

    Mirrors the structures of queuedata.schema.json: aliases,
    importance priors, polymorphic allowed_values, canonicalization
    (case rule + map_values), and access hints (ours are
    ``spark_access``; readers accept either key).
    """
    return {
        "version": "1.0",
        "table": "queuedata",
        "notes": "Synthetic fixture dictionary (FIXTURES.md §2).",
        "columns": [
            {
                "name": "queue",
                "type": "VARCHAR",
                "description": "Unique queue identifier.",
                "aliases": ["name", "queue name", "queuename", "queue_name"],
                "importance": 9,
                "allowed_values": [],
                "canonicalization": {"case": "none", "map_values": {}},
            },
            {
                "name": "status",
                "type": "VARCHAR",
                "description": "Operational state of the queue.",
                "aliases": ["state"],
                "importance": 10,
                "allowed_values": ["online", "offline", "test", "brokeroff"],
                "canonicalization": {
                    "case": "lower",
                    "map_values": {"NULL": None},
                },
            },
            {
                "name": "cloud",
                "type": "VARCHAR",
                "description": "Cloud / region grouping.",
                "aliases": ["region"],
                "importance": 7,
                "allowed_values": {"enumeration": list(_CLOUDS)},
                "canonicalization": {"case": "upper", "map_values": {}},
            },
            {
                "name": "country",
                "type": "VARCHAR",
                "description": "Hosting country (full name).",
                "aliases": [],
                "importance": 6,
                "allowed_values": {"examples": list(_COUNTRIES)},
                # The FULL published map (queuedata.schema.json:390-399)
                # so the README-example-3 golden proves the global
                # rewrite on the exact shipped vocabulary.
                "canonicalization": {
                    "case": "none",
                    "map_values": {
                        "us": "United States",
                        "usa": "United States",
                        "america": "United States",
                        "american": "United States",
                        "united states of america": "United States",
                        "united state": "United States",
                    },
                },
            },
            {
                "name": "corecount",
                "type": "INTEGER",
                "description": "Cores per slot.",
                "aliases": ["ncores", "cores"],
                "importance": 6,
                "allowed_values": {"range": [1, 256], "special_values": [None]},
                "canonicalization": {"case": "none", "map_values": {}},
            },
            {
                "name": "corepower",
                "type": "DOUBLE",
                "description": "HS06 per core.",
                "aliases": [],
                "importance": 4,
                "allowed_values": {"range": [0, 20]},
                "canonicalization": {"case": "none", "map_values": {}},
            },
            {
                "name": "copytools",
                "type": "JSON",
                "description": "Copy tool configs keyed by tool name.",
                "aliases": [],
                "importance": 5,
                "allowed_values": [],
                "canonicalization": {"case": "none", "map_values": {}},
                "spark_access": {
                    "exists_key": "get_json_object(copytools, '$.rucio') IS NOT NULL",
                    "is_null": "get_json_object(copytools, '$.rucio') IS NULL",
                    "example": "get_json_object(copytools, '$.rucio.setup')",
                },
            },
            {
                "name": "hc_suite",
                "type": "JSON",
                "description": "HammerCloud suites enabled for the queue.",
                "aliases": ["suite"],
                "importance": 3,
                "allowed_values": {"examples": list(_SUITES)},
                "canonicalization": {"case": "none", "map_values": {}},
                "spark_access": {
                    "example": "hc_suite LIKE '%\"AFT\"%'",
                    "empty": "hc_suite = '[]'",
                },
            },
            {
                "name": "harvester",
                "type": "VARCHAR",
                "description": "Harvester instance serving the queue.",
                "aliases": [],
                "importance": 2,
                "allowed_values": {"examples": ["CERN_central_A", "CERN_central_B"]},
                "canonicalization": {"case": "none", "map_values": {}},
            },
            {
                "name": "harvester_template",
                "type": "VARCHAR",
                "description": "Harvester template (may be empty or NULL).",
                "aliases": [],
                "importance": 2,
                "allowed_values": [],
                "canonicalization": {"case": "none", "map_values": {}},
                "spark_access": {
                    "is_null": (
                        "harvester_template IS NULL OR harvester_template = ''"
                    ),
                },
            },
            {
                "name": "id",
                "type": "BIGINT",
                "description": "Primary key.",
                "aliases": [],
                "importance": 1,
                "allowed_values": [],
                "canonicalization": {"case": "none", "map_values": {}},
            },
        ],
        "rules": [
            "status values are stored lowercase; compare with LOWER(status).",
        ],
    }
