"""Schema registry: the reference's positional, auto-expanding schema model.

The signature semantics (SURVEY §1.3), reproduced exactly:

- **Positional prefix compatibility** — ``same_or_super_set`` mirrors
  ``sameOrSuperSet`` (BucketToBigQuery.js:12-25): true iff one column-name
  list is an exact ordered prefix of the other, in either direction.
  Columns are never removed, renamed, or reordered — only appended.
- **Float-typed expansion** — new rightmost headers become float columns
  (BucketToBigQuery.js:286-321; readme.md:31 "columns ... added as needed,
  and assumed to be FLOAT").
- **Timestamp heuristic** — ``likely_timestamp`` (BucketToBigQuery.js:27-30):
  lodash ``lowerCase`` word-splits the name, then the regex ``/[-_ ]/``
  (no ``g`` flag) removes only the FIRST separator; the result must equal
  one of timestamp|createdat|time|date|datetime. So ``Created_At`` matches
  but ``created_at_utc`` does not. (The reference calls this over field
  *objects* via ``_.find(fields, likelyTimestamp)`` at :317, which lodash
  string-coerces so it can never match — we implement the documented
  intent, matching on field NAMES, per readme.md:72.)
- **Header sniff** — first ``SNIFF_BYTES`` bytes, first line, comma split
  (BucketToBigQuery.js:124-140). The reference's bare ``split(',')``
  breaks on quoted embedded commas; we parse with :mod:`csv` (the fix
  SURVEY §1.3.2 prescribes) while keeping the strip-wrapping-quotes
  behavior identical for simple headers.
"""

from __future__ import annotations

import csv
import io
import re

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .manifest import Field

# Reference manifest types (readme.md:72-80) plus pragmatic integer/date/bool
# so typed testdata round-trips; unknown types degrade to string.
TYPE_MAP: dict[str, DataType] = {
    "timestamp": TimestampType(),
    "datetime": TimestampType(),
    "float": DoubleType(),  # BigQuery FLOAT is 64-bit (SURVEY §1.2)
    "float64": DoubleType(),
    "string": StringType(),
    "integer": LongType(),
    "int64": LongType(),
    "bigint": LongType(),
    "date": DateType(),
    "bool": BooleanType(),
    "boolean": BooleanType(),
}


def spark_type(ref_type: str) -> DataType:
    return TYPE_MAP.get(ref_type.lower(), StringType())


def same_or_super_set(list_a: list[str], list_b: list[str]) -> bool:
    """True iff one list is an exact ordered prefix of the other.

    Exact port of ``sameOrSuperSet`` (BucketToBigQuery.js:12-25) including
    the direction-agnostic check: a file with FEWER columns than the table
    also passes (missing trailing cells are null-filled à la
    ``allowJaggedRows``, BucketToBigQuery.js:336).
    """
    if list_a == list_b:
        return True
    longest, shortest = (list_a, list_b) if len(list_a) > len(list_b) else (list_b, list_a)
    return longest[: len(shortest)] == shortest


_WORD_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z])|[A-Z]?[a-z]+|[A-Z]+|\d+")
_TS_NAMES = {"timestamp", "createdat", "time", "date", "datetime"}


def _lodash_lower_case(name: str) -> str:
    """lodash ``_.lowerCase``: split words (separators + camelCase), lower,
    join with single spaces. ``Created_At`` → ``created at``."""
    words = _WORD_RE.findall(name)
    return " ".join(w.lower() for w in words)


def likely_timestamp(name: str) -> bool:
    """BucketToBigQuery.js:27-30 with the single-separator quirk: the
    JS ``.replace(/[-_ ]/,'')`` has no ``g`` flag, so only the FIRST
    separator is removed after word-splitting."""
    lowered = _lodash_lower_case(name)
    normalized = re.sub(r"[\-_ ]", "", lowered, count=1)
    return normalized in _TS_NAMES


def infer_partition_field(fields: list[Field]) -> str | None:
    """First of the first 5 fields whose name is likely a timestamp
    (BucketToBigQuery.js:314-317)."""
    for f in fields[:5]:
        if likely_timestamp(f.name):
            return f.name
    return None


# the header-sniff budget: bytes read from the head of each sniffed file
SNIFF_BYTES = 4000


def sniff_csv_headers(content: bytes | str,
                      max_bytes: int = SNIFF_BYTES) -> list[str] | None:
    """Sniff the header row from the first ``max_bytes`` of a CSV file.

    Mirrors ``getLines`` + ``sniffCsvHeaders`` (BucketToBigQuery.js:124-140):
    cap the read, split on ``\\r\\n|\\r|\\n``, take line 1, tokenize.
    Tokenizing uses a real CSV parser so ``"a,b",c`` yields ``['a,b', 'c']``
    (the reference's naive comma split breaks here — documented fix,
    SURVEY §1.3.2); for headers without embedded commas the result is
    identical, including stripping wrapping double quotes.
    """
    if content is None:
        return None
    if isinstance(content, bytes):
        content = content[:max_bytes].decode("utf-8", errors="replace")
    else:
        content = content[:max_bytes]
    first_line = re.split(r"\r\n|\r|\n", content)[0]
    if not first_line:
        return None
    return next(csv.reader(io.StringIO(first_line)))


def build_struct(fields: list[Field]) -> StructType:
    return StructType([StructField(f.name, spark_type(f.type), True) for f in fields])


class SchemaCompatError(ValueError):
    """Incoming headers are not positionally compatible with the schema
    (the reference throws at BucketToBigQuery.js:292 / :305)."""


def expand_schema(existing: list[Field], headers: list[str],
                  context: str = "table") -> list[Field]:
    """Resolve the load schema for ``headers`` against ``existing`` fields.

    Exact semantics of BucketToBigQuery.js:286-321:
    - headers must be prefix-compatible with existing names (else raise —
      the reference's 'not a superset' error, which also rejects renames
      and reorders);
    - extra trailing headers are appended as ``float`` fields;
    - fewer headers than fields is fine (jagged null-fill at load time).
    """
    names = [f.name for f in existing]
    if not same_or_super_set(headers, names):
        raise SchemaCompatError(
            f"The incoming fields are not a superset of the {context} fields: "
            f"{headers!r} vs {names!r}"
        )
    out = list(existing)
    for i in range(len(names), len(headers)):
        out.append(Field(headers[i], "float"))
    return out
