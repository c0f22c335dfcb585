"""Credential store: security='PRIVATE' secret handling (S5/J1/ST10).

The reference upserts (webhook_url, headers) into cdc_webhook.credentials
keyed by (trigger_schema, trigger_table, trigger_name)
(cdc_webhook--1.0.sql:10-22, upsert :188-197) and resolves them at fire
time with an indexed point lookup (:242-248).

Spark form: an append-only parquet table; "upsert" is append +
last-write-wins window over updated_at (the same dedup shape as the
creds_last_wins query); resolution is a broadcast join against the tiny
current view. Secret values never appear in logs or display output
(ST10 — README.md:135-143): `masked()` is the only sanctioned way to
show the table.
"""

from __future__ import annotations

import datetime
import glob
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from ..config import SubscriptionConfig

_SCHEMA = StructType(
    [
        StructField("trigger_schema", StringType()),
        StructField("trigger_table", StringType()),
        StructField("trigger_name", StringType()),
        StructField("webhook_url", StringType()),
        StructField("headers", MapType(StringType(), StringType())),
        StructField("updated_at", TimestampType()),
        StructField("created_by", StringType()),
        # write-order tiebreaker: same-microsecond upserts (or skewed
        # writer clocks) would otherwise make the last-write-wins
        # window pick a nondeterministic row
        StructField("upsert_id", StringType()),
    ]
)

_KEY = ["trigger_schema", "trigger_table", "trigger_name"]


class CredentialStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def upsert(self, cfg: SubscriptionConfig, created_by: str = "engine") -> None:
        """Append-as-upsert (ON CONFLICT DO UPDATE analog,
        cdc_webhook--1.0.sql:188-197): newest updated_at wins at read."""
        # aware UTC: PySpark reads a naive datetime as local time
        now = datetime.datetime.now(datetime.timezone.utc)
        row = [
            (
                cfg.schema_name,
                cfg.table_name,
                cfg.name,
                cfg.webhook_url,
                dict(cfg.headers),
                now,
                created_by,
                uuid.uuid4().hex,
            )
        ]
        self.spark.createDataFrame(row, _SCHEMA).write.mode("append").parquet(
            self.path
        )

    def current(self) -> DataFrame:
        """Last-write-wins view over the append log. An empty/unwritten
        store reads as an empty relation (a fresh engine with no PRIVATE
        subscription never writes the path — accessors must not throw).
        Ties on updated_at break on upsert_id so the winner is
        deterministic across reads (arbitrary but stable for
        same-microsecond writes; legacy rows without the column sort
        last under desc)."""
        if not glob.glob(os.path.join(glob.escape(self.path), "*.parquet")):
            return self.spark.createDataFrame([], _SCHEMA)
        w = Window.partitionBy(*_KEY).orderBy(
            F.desc("updated_at"), F.desc("upsert_id")
        )
        return (
            self.spark.read.schema(_SCHEMA)
            .parquet(self.path)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def resolve(self, cfg: SubscriptionConfig) -> tuple[str, dict[str, str]]:
        """Point lookup for one subscription (the fire-time SELECT,
        cdc_webhook--1.0.sql:242-248). The creds dim is tiny by
        construction — this is a driver-side broadcast-dim read, one per
        micro-batch, not per row (the reference pays it per row)."""
        rows = (
            self.current()
            .filter(
                (F.col("trigger_schema") == cfg.schema_name)
                & (F.col("trigger_table") == cfg.table_name)
                & (F.col("trigger_name") == cfg.name)
            )
            .collect()
        )
        if not rows:
            raise LookupError(
                f"no credentials stored for {cfg.schema_name}.{cfg.table_name}.{cfg.name}"
            )
        r = rows[0]
        return r.webhook_url, dict(r.headers or {})

    def resolve_join(self, events: DataFrame) -> DataFrame:
        """Stream-side resolution as a broadcast equi-join (J1) for plans
        that carry multiple subscriptions in one stream. Credential
        columns come back `cred_`-prefixed so joining event_log-shaped
        inputs (which already carry webhook_url) never produces
        ambiguous references."""
        creds = self.current().select(
            *_KEY,
            F.col("webhook_url").alias("cred_webhook_url"),
            F.col("headers").alias("cred_headers"),
            F.col("updated_at").alias("cred_updated_at"),
        )
        return events.join(F.broadcast(creds), on=_KEY, how="left")

    def view_for(self, principal: str, policy) -> DataFrame:
        """P4 row-level security analog (cdc_webhook--1.0.sql:55-64):
        role members read the full credential rows; everyone else gets
        the masked display form — never secret material."""
        if policy.has_role(principal):
            return self.current()
        return self.masked()

    def masked(self) -> DataFrame:
        """ST10: the only display form — scheme + host kept, EVERYTHING
        else masked. Secrets live in URL paths (Slack-style
        /services/T/B/TOKEN) and query strings (?token=...), not just
        userinfo, so the display form truncates after the authority
        (userinfo dropped too) rather than masking only user:pass@."""
        return self.current().select(
            *_KEY,
            F.concat(
                F.regexp_extract("webhook_url", r"^(\w+://)", 1),
                F.regexp_extract(
                    "webhook_url", r"^\w+://(?:[^@/?#]*@)?([^/?#]*)", 1
                ),
                F.lit("/***"),
            ).alias("webhook_url_masked"),
            F.transform_values(
                F.col("headers"), lambda _, __: F.lit("***")
            ).alias("headers_masked"),
            "updated_at",
        )
