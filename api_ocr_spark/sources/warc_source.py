"""WARC (Web ARChive, ISO 28500) source: ingest crawl archives into rows.

The entry format of every web-scale corpus (Common Crawl ships WARC;
reference parity: the reference ingests request payloads one HTTP body at a
time — /root/reference app.py upload handlers — while a batch engine ingests
the archived form of the same web documents). Two halves:

- `build_warc_file` — a deterministic WARC/1.0 WRITER. Fixture/round-trip
  tooling: it exists so tests and the oracle-checked `warc_ingest` query can
  synthesize archives from the documents table with no external data. Not a
  production sink.
- `parse_warc` + `warc_records` — the PARSER, which IS the production
  operator: an Arrow-batched mapInPandas over a binary archive column, one
  output row per response record. Parsing is strictly OFFSET-DRIVEN: each
  record's extent comes from its Content-Length header, never from scanning
  for the next record marker — so payloads containing literal
  "WARC/1.0" text (web pages quoting WARC, crawler docs) cannot break
  framing (tests pin this). Truncated/malformed archives raise ValueError.

Shape at 100 TB: a crawl is many independent .warc files; the parse is a
pure per-file map (no shuffle — plan-asserted in the query), so it scales
with input splits exactly like any binary decode stage. Production would
read the files via spark.read.format("binaryFile") (or a streaming-offset
reader for multi-GB archives); the per-record logic is this module either
way.
"""

from __future__ import annotations

from collections.abc import Iterator

CRLF = b"\r\n"


def build_warc_record(record: dict) -> bytes:
    """One WARC/1.0 response record: WARC headers, then an HTTP/1.1 response
    block whose length is the record's Content-Length. `record` keys:
    record_id, target_uri, warc_date, content_type, payload (str)."""
    body = record["payload"].encode("utf-8")
    http = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: " + record["content_type"].encode("ascii") + CRLF
        + b"Content-Length: " + str(len(body)).encode("ascii") + CRLF
        + CRLF + body
    )
    headers = (
        b"WARC/1.0" + CRLF
        + b"WARC-Type: response" + CRLF
        + b"WARC-Record-ID: " + record["record_id"].encode("ascii") + CRLF
        + b"WARC-Date: " + record["warc_date"].encode("ascii") + CRLF
        + b"WARC-Target-URI: " + record["target_uri"].encode("ascii") + CRLF
        + b"Content-Type: application/http;msgtype=response" + CRLF
        + b"Content-Length: " + str(len(http)).encode("ascii") + CRLF
        + CRLF
    )
    return headers + http + CRLF + CRLF


def build_warc_file(records: list[dict]) -> bytes:
    """Concatenated records in the given order (a .warc file)."""
    return b"".join(build_warc_record(r) for r in records)


def parse_warc(data: bytes) -> list[dict]:
    """WARC bytes -> one dict per response record, in file order:
    {rec_index, record_id, target_uri, warc_date, content_type,
    http_status, payload}. Offset-driven framing (see module docstring);
    raises ValueError on truncation, a missing Content-Length, or a
    non-WARC/1.x version line."""
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 2] == CRLF:  # inter-record separators
            pos += 2
            continue
        ver_end = data.find(CRLF, pos)
        if ver_end < 0:
            raise ValueError("truncated WARC version line")
        version = data[pos:ver_end]
        if not version.startswith(b"WARC/1."):
            raise ValueError(f"not a WARC record at offset {pos}")
        hdr_end = data.find(CRLF + CRLF, ver_end)
        if hdr_end < 0:
            raise ValueError("truncated WARC header block")
        headers: dict[str, str] = {}
        for line in data[ver_end + 2:hdr_end].split(CRLF):
            k, _, v = line.decode("utf-8", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("missing/invalid WARC Content-Length") from e
        block_start = hdr_end + 4
        block_end = block_start + clen
        if block_end > n:
            raise ValueError("truncated WARC record body")
        if headers.get("warc-type") == "response":
            block = data[block_start:block_end]
            http_end = block.find(CRLF + CRLF)
            if http_end < 0:
                raise ValueError("truncated HTTP block in response record")
            status = 0
            ctype = ""
            http_lines = block[:http_end].split(CRLF)
            if http_lines and http_lines[0].startswith(b"HTTP/"):
                parts = http_lines[0].split()
                if len(parts) >= 2 and parts[1].isdigit():
                    status = int(parts[1])
            for line in http_lines[1:]:
                k, _, v = line.decode("utf-8", "replace").partition(":")
                if k.strip().lower() == "content-type":
                    ctype = v.strip()
            out.append({
                "rec_index": len(out),
                "record_id": headers.get("warc-record-id", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "content_type": ctype,
                "http_status": status,
                "payload": block[http_end + 4:].decode("utf-8", "replace"),
            })
        pos = block_end
    return out


def warc_records(archives):
    """(file_id long, warc binary) -> one row per response record. The
    production ingest stage: Arrow-batched mapInPandas, pure per-file map —
    no shuffle, no per-row Python."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for file_id, blob in zip(pdf["file_id"], pdf["warc"]):
                for rec in parse_warc(bytes(blob)):
                    rec["file_id"] = int(file_id)
                    rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=["file_id", "rec_index", "record_id", "target_uri",
                         "warc_date", "content_type", "http_status",
                         "payload"],
            )

    return archives.select("file_id", "warc").mapInPandas(
        gen,
        schema=("file_id long, rec_index long, record_id string, "
                "target_uri string, warc_date string, content_type string, "
                "http_status int, payload string"),
    )


def build_warc_archives(records_df, n_files: int = 16):
    """Fixture builder: a records frame (doc_id, record_id, target_uri,
    warc_date, content_type, payload) -> (file_id, warc binary), one archive
    per doc_id % n_files bucket, records in ascending doc_id order. One
    groupBy shuffle — acceptable for fixture synthesis (production archives
    arrive already written)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        blob = build_warc_file([
            {"record_id": r.record_id, "target_uri": r.target_uri,
             "warc_date": r.warc_date, "content_type": r.content_type,
             "payload": r.payload}
            for r in pdf.itertuples(index=False)
        ])
        return pd.DataFrame({"file_id": [int(pdf["file_id"].iloc[0])],
                             "warc": [blob]})

    with_file = records_df.withColumn(
        "file_id", (F.col("doc_id") % n_files).cast("long"))
    return with_file.groupBy("file_id").applyInPandas(
        pack, schema="file_id long, warc binary")
