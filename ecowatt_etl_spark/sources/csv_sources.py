"""Reference-shaped CSV scans (SURVEY §2.1 S1–S3).

Three raw inputs, each with its own parsing quirk:
  - EV population: ';'-delimited, headers with unit suffixes and a
    trailing anonymous column (reference main.py:21)
  - electricity:   ';'-delimited, BOM on the first header cell, wide
    fiscal-year columns containing dotted pseudo-numbers (main.py:25)
  - pollution:     ','-delimited, THREE header rows (real header is the
    3rd line), day-first dates, empty cells (main.py:29-35)

All columns are read as strings and coerced explicitly (F4 try_cast) —
schema inference on dirty CSV is exactly the nondeterminism a
100 TB pipeline cannot afford; the contract lives in the transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ecowatt_etl_spark.functions.cleaning import normalize_headers


def read_ev_population(spark: SparkSession, path: str) -> DataFrame:
    """EV population scan: ';' delimiter + header normalization.

    Normalized headers expose FUEL_TYPE / LISTED_PRICE / RANGE exactly
    as the reference's transform layer addresses them (main.py:49,58,62).
    """
    df = spark.read.options(header=True, sep=";", inferSchema=False).csv(path)
    return normalize_headers(df)


def read_electricity(spark: SparkSession, path: str) -> DataFrame:
    """Electricity scan: ';' delimiter; BOM + whitespace stripped from
    headers (reference main.py:88). Fiscal-year columns stay strings —
    the dotted pseudo-numbers ('8.379.343.471') in unused years must
    not poison inference."""
    df = spark.read.options(header=True, sep=";", inferSchema=False).csv(path)
    df = df.toDF(*[c.lstrip("﻿") for c in df.columns])
    return normalize_headers(df)


def read_pollution(spark: SparkSession, path: str) -> DataFrame:
    """Pollution scan: skip 2 title rows, 3rd line is the header
    (reference main.py:31-32 header=2).

    Spark CSV has no skipRows; the skip is a line-level filter before
    parsing (zipWithIndex on the text lines — metadata-scale work, the
    parse itself stays distributed).
    """
    sc = spark.sparkContext
    lines = (
        sc.textFile(path)
        .zipWithIndex()
        .filter(lambda t: t[1] >= 2)
        .map(lambda t: t[0])
    )
    df = spark.read.options(header=True, inferSchema=False).csv(lines)
    return df.toDF(*[c.strip() for c in df.columns])
