"""Per-parent child-table fan-out (S4/S5) — the reference's N+1 loops,
distributed.

The reference fetches 16 child collections per contact in a sequential
Python loop (run_ac_extraction.py:422-765) and a two-level deals bundle
(:793-861). Spark-first shape: the parent ids are a DataFrame; fan-out is
``mapInPandas`` over id partitions — each partition opens one rate-limited
client and, for each of its ids, pages through EVERY requested child
endpoint, yielding child rows tagged with their endpoint and with the
parent id attached (the reference's ``row["contact_id"]=cid``, :434).

One pass serves all the endpoints of a parent level: the ids are
deduplicated and repartitioned once, and one job fetches every table, so
a caller materializes the result once and splits it per endpoint
(``endpoint == name``, then that endpoint's fields) instead of running one
job per table over the same ids.

Scale: ``ids.repartition(n)`` controls fetch concurrency; per-partition
``rate`` = global API budget / n. Two-level bundles (deals → deal notes)
are just two chained fan-outs with the intermediate DataFrame in between —
no nested loops anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Column of :func:`fetch_children`'s output naming the endpoint a row
#: came from.
ENDPOINT_COL = "endpoint"


def fetch_children(
    ids: DataFrame,
    base_url: str,
    endpoint_template: str,
    endpoints: dict[str, list[str]],
    id_col: str = "contact_id",
    parent_col: str = "contact_id",
    rate: float = 4.0,
    page_limit: int = 100,
    n_partitions: int = 4,
) -> DataFrame:
    """Fetch ``endpoint_template.format(id=..., endpoint=name)`` for every
    parent id and every ``name`` in ``endpoints``, in one pass.

    ``endpoints`` maps each endpoint name, which is also the collection
    key of its JSON payload, to the fields kept from its rows. Per parent
    id the endpoints are fetched in ``endpoints`` order.

    ``rate`` is the GLOBAL request budget in req/s (the reference stays
    under the API's 5 req/s cap with ~4 req/s TOTAL, :42); each of the
    ``n_partitions`` concurrent partition clients gets ``rate /
    n_partitions`` so the aggregate rate respects the budget.

    Returns one DataFrame for all endpoints: :data:`ENDPOINT_COL`, every
    field of every endpoint (all strings, null where a row's endpoint
    lacks the field) and ``parent_col``. 404s yield no rows (the
    reference's tolerance for missing child endpoints, :562-567,590-595).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    all_fields = list(dict.fromkeys(f for fs in endpoints.values() for f in fs))
    out_cols = [ENDPOINT_COL, *all_fields, parent_col]
    out_schema = StructType([StructField(c, StringType()) for c in out_cols])
    plan = list(endpoints.items())  # closure-captured
    per_partition_rate = rate / max(1, n_partitions)

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from activecampaign_api_data_pipeline_spark.sources.rest_client import RestClient

        client = RestClient(base_url, rate=per_partition_rate)
        for pdf in batches:
            rows_out: list[dict] = []
            for pid in pdf[id_col].astype(str):
                for name, fields in plan:
                    rows = client.paged(
                        endpoint_template.format(id=pid, endpoint=name),
                        collection=name,
                        page_limit=page_limit,
                    )
                    for r in rows:
                        rec = dict.fromkeys(out_cols)
                        rec.update(
                            (f, None if r.get(f) is None else str(r.get(f)))
                            for f in fields
                        )
                        rec[ENDPOINT_COL] = name
                        rec[parent_col] = pid
                        rows_out.append(rec)
            yield pd.DataFrame(rows_out, columns=out_cols)

    src = ids.select(id_col).distinct().repartition(n_partitions)
    return src.mapInPandas(_fetch, out_schema)


def resolve_ids_by_email(
    emails: DataFrame,
    base_url: str,
    email_col: str = "email",
    rate: float = 4.0,
    n_partitions: int = 4,
) -> DataFrame:
    """Email → contact-id probes (reference :315-327), distributed.

    The reference resolves an emails-only seed CSV with one driver-side
    ``/contacts?filters[email]=E&limit=1`` probe per row plus a rate
    sleep. Same API traffic here, but the emails are a DataFrame and the
    probes run as ``mapInPandas`` over email partitions — each partition's
    client gets ``rate / n_partitions`` so the aggregate respects the
    global budget (T4), exactly like :func:`fetch_children`.

    Unresolvable emails (no contact) yield no row, matching the
    reference's silent skip. Returns ``(contact_id, email_seed)``.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        [StructField("contact_id", StringType()), StructField("email_seed", StringType())]
    )
    per_partition_rate = rate / max(1, n_partitions)

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from activecampaign_api_data_pipeline_spark.sources.rest_client import RestClient

        client = RestClient(base_url, rate=per_partition_rate)
        for pdf in batches:
            rows_out: list[dict] = []
            for email in pdf[email_col].astype(str):
                email = email.strip()
                if not email:
                    continue
                data = client.get_json(
                    "api/3/contacts", params={"filters[email]": email, "limit": "1"}
                )
                contacts = (data or {}).get("contacts", [])
                if isinstance(contacts, dict):  # reference :321-322
                    contacts = [contacts]
                if contacts:
                    cid = str(contacts[0].get("id", "")).strip()
                    if cid:
                        rows_out.append({"contact_id": cid, "email_seed": email})
            yield pd.DataFrame(rows_out, columns=["contact_id", "email_seed"])

    src = emails.select(email_col).where(F.col(email_col).isNotNull()).distinct()
    return src.repartition(n_partitions).mapInPandas(_probe, out_schema)
