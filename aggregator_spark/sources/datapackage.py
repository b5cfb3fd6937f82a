"""Frictionless datapackage descriptors as a schema-carrying CSV source.

The reference loads reference-data dimensions from datapackage
descriptors (reference main.py:178-185, 320-333): the descriptor JSON
declares field names + types for a CSV resource. Here the descriptor is
parsed into a Spark ``StructType`` and the resource read with
``spark.read.csv(..., schema=...)`` — schema declared, never inferred.

Type mapping follows the reference's observed behavior: datapackage
``number`` → DoubleType (the reference's test expects risk id 0 back as
0.0 through this path, reference tests/aggregation_tests.py:410-411),
``integer`` → LongType, ``boolean`` → BooleanType, ``date``/``datetime``
→ Date/Timestamp, everything else → StringType.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_TYPE_MAP = {
    "number": T.DoubleType(),
    "integer": T.LongType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "string": T.StringType(),
}


def load_descriptor(descriptor: str | dict) -> dict:
    """Accepts a dict, a JSON string, or a local path to descriptor JSON."""
    if isinstance(descriptor, dict):
        return descriptor
    if os.path.exists(descriptor):
        with open(descriptor) as f:
            return json.load(f)
    return json.loads(descriptor)


def _find_resource(dp: dict, resource: str | None) -> dict:
    resources = dp.get("resources", [])
    if not resources:
        raise ValueError("datapackage has no resources")
    if resource is None:
        return resources[0]
    for r in resources:
        if r.get("name") == resource:
            return r
    raise ValueError(f"no resource named {resource!r}")


def datapackage_schema(descriptor: str | dict, resource: str | None = None) -> T.StructType:
    res = _find_resource(load_descriptor(descriptor), resource)
    fields = res.get("schema", {}).get("fields", [])
    return T.StructType(
        [
            T.StructField(
                f["name"], _TYPE_MAP.get(f.get("type", "string"), T.StringType())
            )
            for f in fields
        ]
    )


def resource_path(descriptor: str | dict, resource: str | None = None,
                  base: str | None = None) -> list[str]:
    """Every file of the resource: a ``path`` may be one file or a list
    of them (a resource split over several objects, as in the
    reference's S3 manifest, reference main.py:95-103)."""
    res = _find_resource(load_descriptor(descriptor), resource)
    paths = res["path"] if isinstance(res["path"], list) else [res["path"]]
    if not base:
        return paths
    if "://" in base:
        return [urljoin(base + "/", p) for p in paths]
    return [os.path.join(base, p) for p in paths]


def read_datapackage_resource(
    spark: SparkSession,
    descriptor: str | dict,
    resource: str | None = None,
    base: str | None = None,
    path: str | list[str] | None = None,
) -> DataFrame:
    """Descriptor → StructType → ``spark.read.csv`` over every file of
    the resource.

    ``multiLine`` is on because reference fixtures carry quoted multi-line
    description fields (reference tests/fixtures/data/risk.csv:2-4).
    """
    schema = datapackage_schema(descriptor, resource)
    if path is None:
        if isinstance(descriptor, str) and os.path.exists(descriptor) and base is None:
            base = os.path.dirname(os.path.abspath(descriptor))
        path = resource_path(descriptor, resource, base)
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path, schema=schema)
    )
