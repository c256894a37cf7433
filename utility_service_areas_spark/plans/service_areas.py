"""The reference pipeline, re-expressed as Spark plans end-to-end.

Parity map (reference → here):
  generate_and_export_raw_geojson (R/functions.R:173-192) → build_raw_service_areas
  filter_certificates_csv        (R/functions.R:194-228) → via operators.relational
  process_chronology             (R/functions.R:270-277) → enrich_chronology
  build_certificates_df          (R/functions.R:306-380) → certificate_metadata
  generate_and_export_geojson    (R/functions.R:420-562) → build_service_areas

Everything is declarative DataFrame ops; each stage that reads KML
crosses into Python once, in the mapInPandas worker that parses every
file and repairs its polygons (st_make_valid fused into the parse).
Dim-sized inputs (certificates, patches) are broadcast; the KML fact
side is scanned once and shuffled only by the group-by-certificate
combine (and, with acquisition merges, one more group-by-owner).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utility_service_areas_spark.functions.geometry import st_union_multi
from utility_service_areas_spark.operators.relational import (
    filter_active_utilities,
    latest_per_group,
    sync_status_expr,
    tag_entities,
)
from utility_service_areas_spark.sources.kml import read_kml
from utility_service_areas_spark.operators.localrel import local_df

CERT_NUM_RE = r"(\d+(\.\d+)?)"  # matches CPCN '18.1' too (R/functions.R:180)


def _cert_number(name: F.Column) -> F.Column:
    """The certificate number in a placemark or file name, else null."""
    return F.nullif(F.regexp_extract(name, CERT_NUM_RE, 1), F.lit("")).cast("double")


def _combine_preferring_patches(kml: DataFrame) -> DataFrame:
    """Group-by-certificate st_combine (R/functions.R:466-471) that
    prefers patch files over originals (R/functions.R:450-458: if a
    -plss-fix KML exists, the original is dropped). One conditional
    aggregate: a certificate with any patch-file polygon keeps only
    those, any other keeps all of its polygons. The certificate comes
    from the placemark name, else from the file name."""
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    cert = _cert_number(F.coalesce(F.nullif(F.col("placemark_name"), F.lit("")), basename))
    is_patch = F.col("path").contains("-plss-fix")
    per_cert = (
        kml.withColumn("certificate_number", cert)
        .filter(F.col("certificate_number").isNotNull())
        .groupBy("certificate_number")
        .agg(
            F.max(is_patch).alias("any_patch"),
            F.collect_list(
                F.struct(is_patch.alias("is_patch"), F.col("geometry").alias("g"))
            ).alias("polys"),
        )
    )
    kept = F.filter("polys", lambda s: s["is_patch"] | ~F.col("any_patch"))
    return per_cert.select(
        "certificate_number", F.transform(kept, lambda s: s["g"]).alias("geometry")
    ).withColumn("n_source_polygons", F.size("geometry").cast("long"))


def _merge_acquisitions(
    combined: DataFrame, merge_patches: list[tuple[int, int]]
) -> DataFrame:
    """Acquisition merges (get_merge_geom, R/functions.R:421-444) over
    per-certificate rows: each cert1 appends its cert2s' polygons after
    its own, sorted by cert2 (collect_list order is task order). A
    cert2 never survives as its own row, a cert1 with no row of its own
    is dropped, a cert2 absorbed by two owners goes to both, and
    n_source_polygons counts the owner's own polygons only. No
    self-join: a cert2 row is re-keyed to each cert1 absorbing it and
    one group-by-owner aggregate assembles the MultiPolygon."""
    if not merge_patches:
        return combined
    patch_df = local_df(combined.sparkSession, merge_patches, ["cert1", "cert2"])
    acquired = F.col("cert1").isNotNull()
    return (
        combined.join(
            F.broadcast(patch_df),
            combined.certificate_number == patch_df.cert2,
            "left",
        )
        .groupBy(F.coalesce(F.col("cert1"), F.col("certificate_number")).alias("owner"))
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                acquired.alias("acquired"),
                                F.col("certificate_number").alias("c"),
                                F.col("geometry").alias("g"),
                            )
                        )
                    ),
                    lambda s: s["g"],
                )
            ).alias("geometry"),
            F.sum(F.when(~acquired, F.col("n_source_polygons"))).alias(
                "n_source_polygons"
            ),
        )
        .filter(F.col("n_source_polygons").isNotNull())  # has an own row
        .withColumnRenamed("owner", "certificate_number")
    )


def build_raw_service_areas(
    spark: SparkSession, kml_glob: str, certificates: DataFrame
) -> DataFrame:
    """Raw merged layer: every KML, no filtering/patching
    (R/functions.R:173-192), combined per certificate
    (st_combine, R/functions.R:466-471)."""
    combined = (
        read_kml(spark, kml_glob)
        .withColumn("certificate_number", _cert_number(F.col("placemark_name")))
        .filter(F.col("certificate_number").isNotNull())
        .groupBy("certificate_number")
        .agg(
            F.collect_list("geometry").alias("geometry"),
            F.count(F.lit(1)).alias("n_source_polygons"),
        )
    )
    return combined.join(F.broadcast(certificates), "certificate_number", "inner")


def enrich_chronology(chronology: DataFrame) -> DataFrame:
    """Parse order dates (sentinel for blanks) and sort-enrich
    (R/functions.R:251-277). Expects columns:
    certificate_number, docket_number, order_id, order_date (string
    M/D/Y), order_type, comment."""
    parsed = F.coalesce(
        F.to_date(F.col("order_date"), "M/d/yyyy"),
        F.to_date(F.lit("1900-01-01")),
    )
    return chronology.withColumn("order_date", parsed)


def certificate_metadata(
    certificates: DataFrame, chronology: DataFrame
) -> DataFrame:
    """Latest/earliest chronology metadata per certificate
    (R/functions.R:306-380): granted year (first order), last update
    (latest order), formatted order text."""
    latest = latest_per_group(
        chronology,
        ["certificate_number"],
        [F.col("order_date").desc(), F.col("order_id").desc()],
    ).select(
        "certificate_number",
        F.col("order_date").alias("certificate_last_update_date"),
        F.col("order_type").alias("certificate_last_update_type"),
        F.when(
            F.col("docket_number").isNotNull()
            & (F.col("docket_number") != "")
            & F.col("order_id").isNotNull()
            & (F.col("order_id") != ""),
            F.concat(F.col("docket_number"), F.lit("("), F.col("order_id"), F.lit(")")),
        )
        .otherwise(F.col("docket_number"))
        .alias("certificate_last_update_order"),
    )
    earliest = chronology.groupBy("certificate_number").agg(
        F.year(F.min("order_date")).cast("int").alias("certificate_granted_year")
    )
    return certificates.join(F.broadcast(latest), "certificate_number", "left").join(
        F.broadcast(earliest), "certificate_number", "left"
    )


def build_service_areas(
    spark: SparkSession,
    kml_glob: str,
    certificates: DataFrame,
    chronology: DataFrame,
    operator_ids: list[int],
    inactive_ids: list[int],
    merge_patches: list[tuple[int, int]],
    assume_disjoint: bool = True,
) -> DataFrame:
    """Cleaned + patched layer (R/functions.R:420-562): filter to
    active utilities, combine KML geometry per certificate, apply
    acquisition merges (cert1 absorbs cert2's geometry), attach
    chronology metadata and the 3-state sync status.

    ``assume_disjoint=True`` (the reference's real data) keeps the
    acquisition merge as a MultiPolygon concat — union == combine when
    service areas don't overlap. ``False`` runs a true ``st_union``
    dissolve (R/functions.R:431 ``st_union(patched_geom, patch_geom)``)
    over each merged certificate's polygons, so overlapping
    acquisitions don't double-count area.
    """
    certs = filter_active_utilities(
        tag_entities(certificates, "certificate_number", operator_ids),
        "certificate_number",
        inactive_ids,
        F.col("certificate_status") == "Active",
    )
    combined = _merge_acquisitions(
        _combine_preferring_patches(read_kml(spark, kml_glob)), merge_patches
    )
    if merge_patches and not assume_disjoint:
        # True dissolve of the merged MultiPolygon — only the
        # certificates that actually absorbed another one pay the
        # overlay cost; untouched rows keep their geometry as-is.
        combined = combined.withColumn(
            "geometry",
            F.when(
                F.col("certificate_number").isin([c1 for c1, _ in merge_patches]),
                st_union_multi(F.col("geometry")),
            ).otherwise(F.col("geometry")),
        )

    meta = certificate_metadata(certs, enrich_chronology(chronology))
    joined = combined.join(F.broadcast(meta), "certificate_number", "inner")

    # geometry_is_current: KML date >= last service-area-affecting
    # chronology entry (R/functions.R:287-304); here the KML update
    # date arrives as a certificates column (kml_update_date).
    is_current = F.when(
        F.col("kml_update_date").isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.col("kml_update_date") >= F.col("certificate_last_update_date"))
    return joined.select(
        "certificate_number",
        "entity",
        "certificate_name",
        F.col("cpcn_url").alias("certificate_url"),
        "certificate_granted_year",
        "certificate_last_update_date",
        "certificate_last_update_order",
        F.when(F.col("certificate_last_update_type") == "type not set", None)
        .otherwise(F.col("certificate_last_update_type"))
        .alias("certificate_last_update_type"),
        F.col("kml_update_date").alias("geometry_last_update"),
        is_current.alias("geometry_is_current"),
        sync_status_expr(is_current).alias("geometry_cert_sync_status"),
        "n_source_polygons",
        "geometry",
    )


def raw_layer_from_geojson(spark: SparkSession, raw_geojson: str) -> DataFrame:
    """The committed raw merged layer (service-areas-raw.geojson, the
    output of generate_and_export_raw_geojson, R/functions.R:173-192)
    re-read as one row per certificate with its MultiPolygon in the
    FILE'S polygon order (poly_idx rides the S4 reader through the
    shuffle so the reassembly is byte-stable)."""
    from utility_service_areas_spark.sources.geojson import read_geojson

    feats = read_geojson(spark, raw_geojson)
    return (
        feats.select(
            F.get_json_object(
                F.col("properties_json"), "$.certificate_number"
            )
            .cast("double")
            .alias("certificate_number"),
            "poly_idx",
            "geometry",
        )
        .groupBy("certificate_number")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("poly_idx", "geometry"))
                ),
                lambda s: s["geometry"],
            ).alias("geometry"),
            F.count(F.lit(1)).cast("long").alias("n_source_polygons"),
        )
    )


def replay_service_areas_from_raw(
    raw_layer: DataFrame,
    certificates: DataFrame,
    operator_ids: list[int],
    inactive_ids: list[int],
    merge_patches: list[tuple[int, int]],
) -> DataFrame:
    """Re-derive the cleaned/patched export's DERIVABLE subset from
    the repo's committed real inputs alone (VERDICT r14 task #2): the
    raw merged layer + the scraped certificates CSV — no KML dir, no
    network. Replays generate_and_export_geojson's derivable steps
    (R/functions.R:420-562):

      - active-utility filter (filter_certificates_csv semantics:
        drop operators, drop curated inactive ids, keep Active —
        R/functions.R:194-228); absorbed acquisition certs fall out
        of the same filter on the real data (every cert2 is Inactive
        or in inactive_ids);
      - acquisition merges (get_merge_geom, R/functions.R:421-444):
        cert1's MultiPolygon absorbs cert2's polygons. Concat
        semantics (the build_service_areas assume_disjoint posture);
        the reference's s2 st_union renumbers coordinates, so merge
        targets are pinned by AREA parity, not bytes;
      - export field mapping: certificate_url = cpcn_url,
        certificate_number to int (all integral after the filter).

    NOT derivable from committed inputs (documented, pinned as such
    in tests/test_reference_replay.py): the four PLSS-built features
    (289/741/765/767 — geometry comes from live PLSS query URLs), the
    four PLSS-patched geometries (365/395/412/635 — same), and every
    chronology-derived field (certificate_granted_year,
    certificate_last_update_*, geometry_last_update,
    geometry_is_current, sync status — the chronology scrape is not
    committed)."""
    certs = filter_active_utilities(
        tag_entities(certificates, "certificate_number", operator_ids),
        "certificate_number",
        inactive_ids,
        F.col("certificate_status") == "Active",
    )
    combined = _merge_acquisitions(raw_layer, merge_patches)
    joined = combined.join(F.broadcast(certs), "certificate_number", "inner")
    return joined.select(
        F.col("certificate_number").cast("int").alias("certificate_number"),
        "entity",
        "certificate_name",
        F.col("cpcn_url").alias("certificate_url"),
        "n_source_polygons",
        "geometry",
    )
