"""Event-envelope decode — the reference's ``getTriggeredTaskInfos`` front
half (BucketToBigQuery.js:208-246).

The reference receives PubSub push envelopes, keeps ``OBJECT_FINALIZE``
notifications, base64-decodes ``message.data`` into a storage-object JSON,
keeps ``kind == 'storage#object'``, dedups by ``selfLink`` (redelivered
notifications), and builds ``gs://<bucket>/<name>`` URIs that are then
minimatch'd against each task's sources. Two decoders implement the same
filters for two kinds of input; they share no code:

- :func:`events_to_candidates` decodes a list the driver already holds
  (one pulled batch, the ``mockEvents`` seam) in plain Python with
  ``json`` and ``base64``, as the reference does in-process. No Spark job
  runs: shipping a few hundred dicts to executors and collecting them
  back cost two jobs and more CPU than the decode itself.
- :func:`finalize_object_uris` decodes a DataFrame of envelope strings
  (q108's socket stream, a backlog too big for the driver) with JVM
  builtins (``unbase64`` + ``from_json``), executor-side.

The per-task source matching stays in :meth:`BatchLoader.resolve_files`
via ``candidate_files``, same split as the reference (decode once, match
per task).
"""

from __future__ import annotations

import base64
import binascii
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENVELOPE_SCHEMA = "message struct<attributes: map<string,string>, data: string>"
_OBJECT_SCHEMA = "kind string, selfLink string, bucket string, name string"

GS_URI_FORMAT = "gs://{bucket}/{name}"  # reference's hardcoded scheme (js:236)


def finalize_object_uris(
    envelopes: DataFrame,
    envelope_col: str = "envelope",
    uri_format: str = GS_URI_FORMAT,
) -> DataFrame:
    """Raw envelope JSON strings → one ``uri`` row per finalized object.

    Semantics parity with BucketToBigQuery.js:213-236:

    - only ``message.attributes.eventType == 'OBJECT_FINALIZE'`` survives;
    - ``message.data`` is base64-decoded and parsed as JSON (an absent or
      undecodable payload fails the kind filter, as in the reference where
      a null ``data`` can't match ``kind``);
    - only ``kind == 'storage#object'`` survives;
    - an object without ``bucket`` or ``name`` is dropped (the reference
      would build ``gs://undefined/...``, which matches no source glob);
    - one row per distinct ``selfLink`` (``uniqBy`` — duplicates carry the
      same bucket/name, so the URI set is order-independent).

    ``uri_format`` is a local-test seam; the default is the reference's
    ``gs://`` scheme.
    """
    uri = F.lit(uri_format)
    uri = F.replace(uri, F.lit("{bucket}"), F.col("d.bucket"))
    uri = F.replace(uri, F.lit("{name}"), F.col("d.name"))
    return (
        envelopes.select(
            F.from_json(F.col(envelope_col), ENVELOPE_SCHEMA).alias("e")
        )
        .where(F.col("e.message.attributes")["eventType"] == "OBJECT_FINALIZE")
        .select(
            F.from_json(
                F.unbase64(F.col("e.message.data")).cast("string"),
                _OBJECT_SCHEMA,
            ).alias("d")
        )
        .where(F.col("d.kind") == "storage#object")
        .select(F.col("d.selfLink").alias("selfLink"), uri.alias("uri"))
        .where(F.col("uri").isNotNull())
        .dropDuplicates(["selfLink"])
        .select("uri")
    )


def _finalized_object(envelope) -> dict | None:
    """The storage object a finalize notification carries, else ``None``."""
    msg = envelope.get("message") if isinstance(envelope, dict) else None
    if not isinstance(msg, dict):
        return None
    attrs = msg.get("attributes")
    if not isinstance(attrs, dict) or attrs.get("eventType") != "OBJECT_FINALIZE":
        return None
    data = msg.get("data")
    if not isinstance(data, str):
        return None
    try:
        obj = json.loads(base64.b64decode(data).decode("utf-8", "replace"))
    except (binascii.Error, ValueError):
        return None
    if not isinstance(obj, dict) or obj.get("kind") != "storage#object":
        return None
    return obj


def events_to_candidates(
    spark: SparkSession,
    events: list[dict],
    uri_format: str = GS_URI_FORMAT,
) -> list[str]:
    """Decode a batch of envelope dicts (the ``mockEvents`` seam,
    index.js:49-50) into the sorted candidate-URI list that feeds
    ``BatchLoader.run(candidate_files=...)``.

    Same filters as :func:`finalize_object_uris`, decoded on the driver:
    the batch is already a driver list, bounded by the load contract (the
    reference processes one notification batch per invocation). ``spark``
    is unused and kept for callers. Where Spark's ``unbase64`` raises on
    a malformed payload, this decoder drops that one notification; a
    ``bucket`` or ``name`` that is not a JSON string counts as absent.
    """
    seen: set[str] = set()
    uris: list[str] = []
    for e in events:
        obj = _finalized_object(e)
        if obj is None:
            continue
        bucket, name = obj.get("bucket"), obj.get("name")
        if not (isinstance(bucket, str) and isinstance(name, str)):
            continue
        link = obj.get("selfLink")
        if not isinstance(link, str):  # from_json's text of a non-string
            link = json.dumps(link)
        if link in seen:
            continue
        seen.add(link)
        uris.append(uri_format.replace("{bucket}", bucket).replace("{name}", name))
    return sorted(uris)


__all__ = ["ENVELOPE_SCHEMA", "finalize_object_uris", "events_to_candidates"]
