"""S5: splittable DBLP XML source (the reference's ``import_dblp``).

Parity target ``mr-datasets/input/DblpXmlInputFormat.java:28-265`` +
``DblpToAvroMapper.java`` (fields key, author, title, year; first occurrence
of each secondary tag wins; ``-missing-`` defaults;
``DblpCharMapping.unescapeXMLChars`` named-entity -> ISO-8859-1 mapping) and
``DblpToAvroTool.java`` (primary/secondary tag sets).

Spark-first design: instead of a Hadoop InputFormat, the file is split into
byte ranges ON THE DRIVER (cheap arithmetic over the file length) and each
range is parsed by one task via ``mapInPandas`` over a ranges DataFrame —
the same intra-file parallelism the MR reader gets from FileSplits.

Split-boundary rule — DELIBERATE deviation from the reference: a record is
owned by the range containing the ``<`` of its primary start tag (read to
completion past the boundary). The reference's skip-until-first-END-tag
rule LOSES a record whenever a split boundary falls inside a primary
closing tag (verified byte-by-byte against DblpXmlInputFormat.java:179-194:
the skip lands on the NEXT record's end tag); start-tag ownership is
loss-free and duplicate-free at every byte offset (property-tested).
Likewise, a primary tag without a ``key`` attribute is skipped instead of
aborting the whole split (DblpXmlInputFormat.java:226-236 returns null and
the reader stops — silent truncation at scale).

The byte scanner reproduces the reference reader's quirks on purpose (they
define what the reference would ingest):

- the ``key="..."`` attribute must appear before the start tag's ``>``;
- a secondary tag is matched on the full text between ``<`` and ``>``
  (``<author orcid=...>`` does NOT match);
- a value is read until ``<`` or ``>``, and that terminator is consumed, so
  a tag immediately following a value is skipped by the next scan;
- bytes are interpreted as ISO-8859-1 chars (the DBLP encoding).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .session import worker_task_setup

PRIMARY_TAGS = (
    "article", "inproceedings", "proceedings", "book",
    "incollection", "www", "phdthesis", "mastersthesis",
)
SECONDARY_TAGS = ("author", "title", "year")
MISSING_VALUE = "-missing-"

DBLP_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("author", StringType()),
    StructField("title", StringType()),
    StructField("year", StringType()),
])

# DblpCharMapping: named XML entities -> single ISO-8859-1 chars. The map
# covers the latin-1 letter entities plus the XML basics the DBLP dump uses.
_ENTITY_BYTE = {
    "Agrave": 192, "Aacute": 193, "Acirc": 194, "Atilde": 195, "Auml": 196,
    "Aring": 197, "AElig": 198, "Ccedil": 199, "Egrave": 200, "Eacute": 201,
    "Ecirc": 202, "Euml": 203, "Igrave": 204, "Iacute": 205, "Icirc": 206,
    "Iuml": 207, "ETH": 208, "Ntilde": 209, "Ograve": 210, "Oacute": 211,
    "Ocirc": 212, "Otilde": 213, "Ouml": 214, "Oslash": 216, "Ugrave": 217,
    "Uacute": 218, "Ucirc": 219, "Uuml": 220, "Yacute": 221, "THORN": 222,
    "szlig": 223, "agrave": 224, "aacute": 225, "acirc": 226, "atilde": 227,
    "auml": 228, "aring": 229, "aelig": 230, "ccedil": 231, "egrave": 232,
    "eacute": 233, "ecirc": 234, "euml": 235, "igrave": 236, "iacute": 237,
    "icirc": 238, "iuml": 239, "eth": 240, "ntilde": 241, "ograve": 242,
    "oacute": 243, "ocirc": 244, "otilde": 245, "ouml": 246, "oslash": 248,
    "ugrave": 249, "uacute": 250, "ucirc": 251, "uuml": 252, "yacute": 253,
    "thorn": 254, "yuml": 255, "amp": 38, "lt": 60, "gt": 62,
    "quot": 34, "apos": 39, "micro": 181, "times": 215, "reg": 174,
}
_ENTITY_RE = re.compile(r"(&[a-zA-Z]*;)")


def unescape_xml_chars(value: str) -> str:
    """``DblpCharMapping.unescapeXMLChars``: replace known named entities."""
    if "&" not in value or ";" not in value:
        return value
    for found in set(_ENTITY_RE.findall(value)):
        b = _ENTITY_BYTE.get(found[1:-1])
        if b is not None:
            value = value.replace(found, bytes([b]).decode("iso-8859-1"))
    return value


class _Scanner:
    """Char-level mirror of MultiTagXmlRecordReader over one byte range."""

    def __init__(self, buf: str, start: int, end: int):
        self.buf = buf          # latin-1 decoded text (1 byte == 1 char)
        self.pos = start        # char offset within buf
        self.end = end
        self.eof = False

    # --- reference reader primitives ---------------------------------------

    def _read(self) -> int:
        if self.pos >= len(self.buf):
            self.eof = True
            return -1
        b = ord(self.buf[self.pos])
        self.pos += 1
        return b

    def _read_until(self, stop: int, also_tag_close: bool = True) -> str:
        out = []
        while True:
            b = self._read()
            if b < 0 or b == stop or (also_tag_close and b == ord(">")):
                break
            out.append(chr(b))
        return "".join(out)

    def _skip_until_primary_start(self) -> int | None:
        """Scan to the next primary start tag; return the offset of its '<'."""
        while True:
            b0 = self._read()
            if self.eof:
                return None
            if b0 == ord("<"):
                tag_pos = self.pos - 1
                tag = self._read_until(ord(" "))
                if tag in PRIMARY_TAGS:
                    return tag_pos

    def _read_key_attribute(self) -> str | None:
        pattern = 'key="'
        m = 0
        while True:
            b0 = self._read()
            if self.eof:
                return None
            if b0 == ord(pattern[m]):
                m += 1
                if m == len(pattern):
                    break
            else:
                m = 0
                if b0 == ord(">"):
                    return None
        value = self._read_until(ord('"'))
        return None if self.eof else value

    def _read_secondary_values(self) -> list[str] | None:
        values = [MISSING_VALUE] * len(SECONDARY_TAGS)
        while True:
            b0 = self._read()
            if self.eof:
                return None
            if b0 == ord("<"):
                tag = self._read_until(ord(">"), also_tag_close=False)
                if tag in SECONDARY_TAGS:
                    idx = SECONDARY_TAGS.index(tag)
                    value = unescape_xml_chars(self._read_until(ord("<")))
                    if values[idx] == MISSING_VALUE:
                        values[idx] = value
                elif tag.startswith("/") and tag[1:] in PRIMARY_TAGS:
                    break
        return values

    # --- record iteration ----------------------------------------------------

    def records(self) -> Iterator[tuple[str, str, str, str]]:
        while True:
            tag_pos = self._skip_until_primary_start()
            if tag_pos is None or tag_pos >= self.end:
                return  # next record belongs to the following range
            key = self._read_key_attribute()
            if self.eof:
                # a record owned by this range is still open at buffer end:
                # either it extends > RANGE_OVERRUN past the range end or the
                # file itself is truncated — data loss, not a clean boundary
                raise ValueError(
                    f"record starting at byte {tag_pos} extends past the "
                    f"buffer end (range overrun > {RANGE_OVERRUN} bytes or "
                    "truncated file); refusing to drop it silently"
                )
            if key is None:
                continue  # malformed record (no key in start tag): skip it
            vals = self._read_secondary_values()
            if vals is None:
                raise ValueError(
                    f"record {key!r} (start byte {tag_pos}) has no closing "
                    f"tag within the buffer (range overrun > {RANGE_OVERRUN} "
                    "bytes or truncated file); refusing to drop it silently"
                )
            yield (key, *vals)


def parse_range(buf: str, start: int, end: int) -> list[tuple[str, str, str, str]]:
    """Records whose primary start tag begins in [start, end) of the text."""
    return list(_Scanner(buf, start, end).records())


# max bytes a record may extend past its range end; DBLP records are a few
# KB, so 16 MiB is a generous completion margin without reading the file tail
RANGE_OVERRUN = 16 << 20


def read_dblp_xml(
    spark: SparkSession,
    path: str,
    target_splits: int | None = None,
) -> DataFrame:
    """-> DataFrame(key, author, title, year) parsed in parallel byte ranges.

    ``target_splits`` defaults to the cluster's default parallelism. At real
    DBLP scale (a single multi-GB XML file) every split parses concurrently;
    each task reads only [split_start, next_record_end) from local/remote
    storage.
    """
    import os

    size = os.path.getsize(path)
    n = target_splits or spark.sparkContext.defaultParallelism
    n = max(1, min(n, size))
    bounds = [(path, size * i // n, size * (i + 1) // n) for i in range(n)]
    # round-robin repartition: hashing `start` would leave ~1/e of the n
    # tasks empty and stack multiple ranges on others
    ranges = spark.createDataFrame(
        bounds, "path string, start long, `end` long"
    ).repartition(n)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_task_setup()
        for pdf in batches:
            rows: list[tuple[str, str, str, str]] = []
            for p, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                s, e = int(s), int(e)
                # each task reads only its range plus a completion margin
                with open(p, "rb") as f:
                    f.seek(s)
                    buf = f.read((e - s) + RANGE_OVERRUN).decode("iso-8859-1")
                rows.extend(parse_range(buf, 0, e - s))
            yield pd.DataFrame(rows, columns=["key", "author", "title", "year"])

    return ranges.mapInPandas(_parse, DBLP_SCHEMA)
