"""Whole-organization payload assembly + sinks — Spark-native rebuild of
/root/reference/mmj/etl_import.py:21-71.

The reference builds one nested dict {organizationId, settings,
employees, members, products, vendors, physicians, validated, imported,
extractedDate, summary} and writes it to a local JSON file + a MongoDB
collection.

`ENTITY_BUILDERS` is the one entity -> frame table: the per-org payload
and the distributed per-entity path (`__main__.entity_frame` ->
sources/sinks.write_entity_json, the 100 TB path) build the same six
(_id, doc) frames from it.

The per-org payload is ONE query: the six frames are projected to
(entity, _id, to_json(doc)) and unioned, collected once, then grouped
and ordered by _id on the driver (nulls first, as Spark's ascending sort
puts them). The per-org lists are dimension-sized (1-6000 rows), so a
Spark sort per list would only add a range-partition sample job and a
shuffle per entity; one action also pays the per-job fixed cost once
instead of six times. `common.docs` is not on this path, so a traced
perfbench run reads `entities.<e>.collect_s` as 0: the collect time is
build_payload's own (self) time.
"""

from __future__ import annotations

import json
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.entities import (employees as emp, members as mem,
                                   menu_items as prod, physicians as phys,
                                   settings as sett, vendors as vend)

# entity -> (sources, dispensary_id, organization_id, debug) -> (_id, doc)
# frame, in the reference extract() call shapes (etl_import.py:10-16).
# The module attribute is looked up per call, so a wrapped `transform`
# is picked up.
ENTITY_BUILDERS = {
    "settings": lambda s, d, o, debug: sett.transform(
        s["dispensary_details"], s["memberships"], s["membership_prices"],
        s["red_flags"], s["taxes"], d, o, debug=debug),
    "employees": lambda s, d, o, debug: emp.transform(
        s["users"], s["dispensary_users"], d, o, fake_email=True,
        debug=debug),
    "members": lambda s, d, o, debug: mem.transform(s["customers"], d, o),
    "products": lambda s, d, o, debug: prod.transform(
        s["menu_items"], s["categories"], s["menu_item_prices"],
        s["menu_item_weedmaps_integrations"], s["dispensary_details"], d, o,
        debug=debug),
    "vendors": lambda s, d, o, debug: vend.transform(s["vendors"], d, o),
    "physicians": lambda s, d, o, debug: phys.transform(
        s["physicians"], d, o),
}


def _id_key(row):
    """Spark's ascending order on _id: NULL first."""
    return (row["_id"] is not None, row["_id"])


def build_payload(sources: dict[str, DataFrame], dispensary_id: int,
                  organization_id, debug: bool = False,
                  extracted_date: int | None = None) -> dict:
    """Assemble the per-organization import document (etl_import.py:21-58)
    from one collect of the six entity frames.

    `summary` counters are structural zeros in the reference
    (etl_import.py:32-57 — never incremented); reproduced as zeros.
    """
    parts = [build(sources, dispensary_id, organization_id, debug)
             .select(F.lit(entity).alias("entity"), "_id",
                     F.to_json("doc").alias("j"))
             for entity, build in ENTITY_BUILDERS.items()]
    rows = reduce(DataFrame.unionAll, parts).collect()
    # the union widens _id to one type, so one stable sort orders every list
    lists = {entity: [] for entity in ENTITY_BUILDERS}
    for r in sorted(rows, key=_id_key):
        lists[r["entity"]].append(json.loads(r["j"]))
    settings_docs = lists.pop("settings")
    return {
        "organizationId": str(organization_id),
        "source": "mmjMenu",
        "extractedDate": int(extracted_date if extracted_date is not None
                             else time.time()),
        "validated": False,
        "imported": False,
        "settings": settings_docs[0] if settings_docs else {},
        **lists,
        "summary": {
            entity: {"valid": 0, "invalid": 0}
            for entity in ("members", "employees", "products", "vendors",
                           "physicians")
        },
    }


def write_payload_json(payload: dict, path: str) -> None:
    """K1 JSON file sink (etl_import.py:59-64): sorted keys, indent 4."""
    with open(path, "w") as f:
        json.dump(payload, f, sort_keys=True, indent=4)
