"""Certificates CSV source: schema parity with the reference's scrape
output and its cleanup semantics (R/functions.R:55-67).
"""

from __future__ import annotations

import pytest

from utility_service_areas_spark.sources.certificates import (
    clean_certificates,
    read_certificates_csv,
)

CSV = """certificate_number,certificate_type,entity,certificate_name,utility_type,certificate_status,cpcn_url,entity_url
1,CPCN,AEL&P,ALASKA ELECTRIC LIGHT & POWER COMPANY,Electric,Active,http://rca/1,http://e/1
2,CPCN,APC,ALASKA POWER COMPANY,Electric,Active,http://rca/2,
2,CPCN,APC,ALASKA POWER COMPANY DUPLICATE,Electric,Active,http://rca/2b,
18.1,CPCN,X,FRACTIONAL CPCN,Electric,Inactive,http://rca/18.1,
garbage,CPCN,Y,NOT A NUMBER,Electric,Active,,
"""


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "certs.csv"
    p.write_text(CSV)
    return str(p)


def test_read_and_clean(spark, csv_path):
    raw = read_certificates_csv(spark, csv_path)
    assert raw.count() == 5
    cleaned = clean_certificates(raw)
    rows = {r.certificate_number: r for r in cleaned.collect()}
    # unparseable number dropped; duplicate #2 deduped keeping first by
    # (name, url) order; fractional CPCN 18.1 kept as double
    assert set(rows) == {1.0, 2.0, 18.1}
    assert rows[2.0].certificate_name == "ALASKA POWER COMPANY"
    # nulls blank-filled (reference: out[is.na(out)] <- "")
    assert rows[2.0].entity_url == ""
