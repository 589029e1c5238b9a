"""S6/S7 — REST scans: paginated FHIR search and Indexd metadata prefetch.

S6 reproduces ``yield_resources`` (reference ``common/utils.py:27-87``):
follow ``link[relation=next]`` (with localhost host rewrite), dedupe entries
by ``resource.id``, and assert ``bundle.total == found``.

S7 replaces the reference's per-row GET inside the DocumentReference builder
(``drs_document_reference.py:224-243``) with a *prefetch*: fetch all genomic
file metadata up front into a DataFrame and broadcast-join it (SURVEY.md
§2.1-S7 — never a network call per record inside a builder).

``fetch`` is injectable: tests pass a fake; production passes
``default_fetch``, a GET on ``retrying_session`` (bounded retries, as the
reference's ``d3b_utils.requests_retry.Session``, ``common/utils.py:58``).
The network import is gated so the module works in offline containers.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Fetch = Callable[[str, dict | None], dict]
"""fetch(url, params) -> parsed JSON body."""


ATTEMPTS = 3
"""Requests per call at most: the first try and two retries."""
RETRY_STATUSES = (429, 500, 502, 503, 504)


def retrying_session():
    """A ``requests.Session`` that retries a bounded number of times (import
    gated; only needed in live mode): up to ``ATTEMPTS`` requests on
    connection errors, and for GET and PUT on the ``RETRY_STATUSES``, with
    exponential backoff or the server's ``Retry-After``. POST is not
    idempotent, so a POST is never retried on a status. When the attempts
    run out the last response is returned, for the caller to raise on."""
    import requests
    from requests.adapters import HTTPAdapter
    from urllib3.util.retry import Retry

    retry = Retry(
        total=ATTEMPTS - 1,
        backoff_factor=0.5,
        status_forcelist=RETRY_STATUSES,
        allowed_methods=frozenset({"GET", "PUT"}),
        respect_retry_after_header=True,
        raise_on_status=False,
    )
    session = requests.Session()
    adapter = HTTPAdapter(max_retries=retry)
    session.mount("http://", adapter)
    session.mount("https://", adapter)
    return session


def default_fetch(headers: dict | None = None, auth: tuple[str, str] | None = None) -> Fetch:
    """HTTP GET on a ``retrying_session``."""
    session = retrying_session()

    def fetch(url: str, params: dict | None = None) -> dict:
        resp = session.get(url, params=params, headers=headers, auth=auth)
        if resp.status_code != 200:
            raise RuntimeError(f"GET {url} -> {resp.status_code}: {resp.text[:500]}")
        return resp.json()

    return fetch


def yield_resources(host: str, endpoint: str, filters: dict | None, fetch: Fetch) -> Iterator[dict]:
    """Paginated FHIR search (S6): generator of unique bundle entries."""
    url = f"{host.rstrip('/')}/{endpoint.lstrip('/')}"
    link_next: str | None = url
    params = filters
    expected = 0
    seen: set[str] = set()

    while link_next is not None:
        bundle = fetch(link_next, params)
        params = None  # next-links already carry their query string
        expected = bundle["total"]
        link_next = None
        for link in bundle.get("link", []):
            if link["relation"] == "next":
                # host rewrite of server-relative next links (common/utils.py:69-72)
                link_next = link["url"].replace("http://localhost:8000", host)
        for entry in bundle.get("entry", []):
            rid = entry["resource"]["id"]
            if rid not in seen:
                seen.add(rid)
                yield entry

    found = len(seen)
    assert expected == found, f"Found {found} resources but expected {expected}"


RESOURCE_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("resource_type", T.StringType(), True),
        T.StructField("resource_json", T.StringType(), True),
    ]
)


def fhir_search_scan(
    spark: SparkSession, host: str, endpoint: str, filters: dict | None, fetch: Fetch
) -> DataFrame:
    """S6 as a DataFrame: driver-side paginated fetch → distributed rows.
    Pagination is inherently serial (each page links the next), so the scan
    itself is driver-side; everything downstream is distributed."""
    rows = [
        (
            e["resource"]["id"],
            e["resource"].get("resourceType"),
            json.dumps(e["resource"], separators=(",", ":")),
        )
        for e in yield_resources(host, endpoint, filters, fetch)
    ]
    return spark.createDataFrame(rows, RESOURCE_SCAN_SCHEMA)


GENOMIC_FILE_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("genomic_file_id", T.StringType(), False),
        T.StructField("controlled_access", T.BooleanType(), True),
        T.StructField("data_type", T.StringType(), True),
        T.StructField("file_format", T.StringType(), True),
        T.StructField("latest_did", T.StringType(), True),
        T.StructField("acl", T.ArrayType(T.StringType()), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("hashes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("file_name", T.StringType(), True),
    ]
)


def prefetch_genomic_file_metadata(
    spark: SparkSession, base_url: str, genomic_file_ids: Iterable[str], fetch: Fetch
) -> DataFrame:
    """S7 prefetch: one GET per genomic file id (FIXTURES.md §15 payload),
    materialized as the metadata DataFrame the DocumentReference builder
    broadcast-joins."""
    rows = []
    base = base_url.rstrip("/")
    for gf_id in genomic_file_ids:
        body = fetch(f"{base}/genomic-files/{gf_id}", None)
        r = body.get("results", {})
        size = r.get("size")
        try:
            size = int(size) if size is not None else None
        except (TypeError, ValueError):
            size = None  # swallowed cast (drs_document_reference.py:348-356)
        rows.append(
            (
                gf_id,
                r.get("controlled_access"),
                r.get("data_type"),
                r.get("file_format"),
                r.get("latest_did"),
                r.get("acl"),
                size,
                r.get("hashes"),
                r.get("file_name"),
            )
        )
    return spark.createDataFrame(rows, GENOMIC_FILE_METADATA_SCHEMA)
