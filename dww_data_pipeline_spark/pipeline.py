"""The reference's end-to-end domain pipeline, Spark-first
(SURVEY §3.1 / §7.1):

    bronze:  credits_raw, movies, maps, locations       (ingest)
    silver:  credits_parsed (F1,F9) → worked_for (J2,F2,J7) → enriched (J3,J4)
    gold:    jumps (W1-W7), density (A5/A6), search_counts (A1-A3), exports

Where the reference does one HTTP round-trip per node/edge mutation
(GetWeta.py:125-228), this is a linear DAG of DataFrame transforms —
one job, no row-at-a-time RPC. Every stage is a pure
DataFrame → DataFrame function usable independently; `build_gold`
wires the full flow.

The serving layer's parameterized query
(`GET /list/jumps?filter=…&target=…&dir=…` — dwwRoutes.js:38-60)
becomes the `jumps_query` builder: each URL parameter is a function
argument.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dww_data_pipeline_spark.functions.dates import (
    canonical_release,
    date_precision,
    to_epoch_ms,
)
from dww_data_pipeline_spark.operators import density as density_ops
from dww_data_pipeline_spark.operators import sequence as seq
from dww_data_pipeline_spark.operators.resolution import (
    apply_locations,
    apply_role_map,
    parse_credits,
    resolve_companies,
)

# deterministic timeline order: padded release string (lexicographic ==
# chronological), movie_id tie-break (SURVEY §7.3)
TIMELINE_ORDER = ["release", "movie_id"]


@dataclass
class DomainTables:
    """Silver + gold outputs of the domain pipeline."""

    worked_for: DataFrame
    jumps: DataFrame
    density: DataFrame
    search_counts: DataFrame


def build_worked_for(
    credits_raw: DataFrame,
    company_map: DataFrame,
    role_map: DataFrame,
    locations: DataFrame | None = None,
    regions: DataFrame | None = None,
    exact_parity: bool = False,
) -> DataFrame:
    """bronze credits → enriched silver fact table.

    credits_raw: (person_id, person_name, movie_id, notes, release)
    company_map: (search, name, id)
    role_map:    (raw_role, name)
    locations:   (loc_company_name, geo_loc, location) [optional]
    regions:     (reg_location, global_region) [optional]
    """
    parsed = parse_credits(credits_raw)
    parsed = parsed.withColumns(
        {
            "date_precision": date_precision(F.col("release")),
            "release": canonical_release(F.col("release")),
        }
    )
    wf = resolve_companies(parsed, company_map, exact_parity=exact_parity)
    wf = apply_role_map(wf, role_map)
    if locations is not None and regions is not None:
        wf = apply_locations(wf, locations, regions)
    return wf


def jumps_query(
    worked_for: DataFrame,
    filter_key: str | None = None,
    target: str | None = None,
    direction: str = "in",
    jumps_only: bool = True,
) -> DataFrame:
    """The serving tier's jump query (dwwApi.js:48-315) as a builder.

    filter_key ∈ {company_name, location, region} selects the match
    key (dwwApi.js:231-242); with no filter, returns the jump rows
    (change-points) per person. Timestamps surface as epoch ms
    (dwwApi.js:111-112 — month bug fixed)."""
    base = worked_for.filter(F.col("release").isNotNull())
    if jumps_only:
        # the reference's FormatRels operates on the jump-filtered rels
        # (dwwApi.js:100-107 dedupes consecutive same-company rows
        # BEFORE directional filtering) — so the directional filter
        # must see the jump rows, not the raw timeline
        base = seq.jumps(base, "person_id", "company_name", TIMELINE_ORDER)
    if filter_key is not None:
        if target is None:
            raise ValueError("filter requires target (dwwRoutes.js:41-44)")
        base = seq.directional_filter(
            base,
            "person_id",
            TIMELINE_ORDER,
            filter_key,
            target,
            direction,
        )
    return base.withColumn("date_ms", to_epoch_ms(F.col("release")))


def jumps_with_departures(
    worked_for: DataFrame, hubs: DataFrame | None = None
) -> DataFrame:
    """W5: the unfiltered jump timeline with synthetic departure rows
    interleaved (reference dwwApi.js:281-293): between consecutive
    jumps, a copy of the earlier row appears with ``dummy=true`` at
    ``next_ts − trip_days·86400000``, where trip_days comes from the
    haversine distance between the two locations' hub coordinates
    (locUtils.js:18-34; F16/F17), clamped ≥ 1; 1 day when geo is
    unknown.

    hubs: (hub, geo_loc) with ``"lat,lon"`` strings
    (functions.js:124-127). Joined twice (current + next location) as
    broadcasts.
    """
    from dww_data_pipeline_spark.functions.geo import (
        haversine_km,
        parse_geo_loc,
        trip_days,
    )

    base = seq.jumps(
        worked_for.filter(F.col("release").isNotNull()),
        "person_id",
        "company_name",
        TIMELINE_ORDER,
    ).withColumn("ts_ms", to_epoch_ms(F.col("release")))

    if hubs is not None and "location" in base.columns:
        w = Window.partitionBy("person_id").orderBy(*TIMELINE_ORDER)
        cur = hubs.select(
            F.col("hub").alias("_cur_hub"), F.col("geo_loc").alias("_cur_geo")
        )
        nxt = hubs.select(
            F.col("hub").alias("_nxt_hub"), F.col("geo_loc").alias("_nxt_geo")
        )
        base = (
            base.withColumn("_next_loc", F.lead("location").over(w))
            .join(
                F.broadcast(cur), F.lower(F.col("location")) == F.lower(F.col("_cur_hub")), "left"
            )
            .join(
                F.broadcast(nxt), F.lower(F.col("_next_loc")) == F.lower(F.col("_nxt_hub")), "left"
            )
        )
        lat1, lon1 = parse_geo_loc(F.col("_cur_geo"))
        lat2, lon2 = parse_geo_loc(F.col("_nxt_geo"))
        trip = F.when(
            F.col("_cur_geo").isNotNull() & F.col("_nxt_geo").isNotNull(),
            trip_days(haversine_km(lat1, lon1, lat2, lon2)),
        ).otherwise(F.lit(1))
        base = base.withColumn("_trip_days", trip)
        out = seq.dummy_departures(
            base, "person_id", TIMELINE_ORDER, "ts_ms", F.col("_trip_days")
        )
        return out.drop("_cur_hub", "_cur_geo", "_nxt_hub", "_nxt_geo", "_next_loc", "_trip_days")
    return seq.dummy_departures(base, "person_id", TIMELINE_ORDER, "ts_ms", F.lit(1))


def export_people_json(worked_for: DataFrame) -> DataFrame:
    """S8: the serving tier's nested people document, field names
    verbatim from the reference (dwwApi.js:125-134):
    ``{id, name, rels: [{imdbMovieId, companySearch, companyMatchRatio,
    personRole, personMappedRole, movieReleaseYear, matchedCompanyId,
    matchedCompanyName}]}`` with rels in timeline order.
    movieReleaseYear is epoch ms (dwwApi.js:111-112, month bug fixed)."""
    base = worked_for.filter(F.col("release").isNotNull())
    rel = F.struct(
        F.col("release").alias("_order1"),
        F.col("movie_id").alias("_order2"),
        F.col("movie_id").alias("imdbMovieId"),
        F.col("company_search").alias("companySearch"),
        F.col("match_ratio").alias("companyMatchRatio"),
        F.col("role").alias("personRole"),
        F.col("true_role").alias("personMappedRole"),
        to_epoch_ms(F.col("release")).alias("movieReleaseYear"),
        F.col("company_id").alias("matchedCompanyId"),
        F.col("company_name").alias("matchedCompanyName"),
    )
    return (
        base.groupBy(F.col("person_id").alias("id"), F.col("person_name").alias("name"))
        .agg(F.sort_array(F.collect_list(rel)).alias("_rels"))
        .select(
            "id",
            "name",
            F.transform(F.col("_rels"), lambda r: r.dropFields("_order1", "_order2")).alias(
                "rels"
            ),
        )
    )


def export_serving_envelope(
    worked_for: DataFrame,
    locations: DataFrame,
    regions: DataFrame,
    global_regions: DataFrame | None = None,
    hubs: DataFrame | None = None,
) -> DataFrame:
    """The full serving-document envelope the reference's API returns
    (dwwApi.js:219-223): ``{jumps, locations, regions, globalRegions}``
    as ONE nested document —

    * ``jumps``: the nested people docs (export_people_json), sorted
      by person id;
    * ``locations``: company name → geoLoc string (dwwApi.js:123
      ``companyLocations[name] = location`` — the shape of the
      reference's own jumps_(2).json export);
    * ``regions``: location → region index, values lowercased
      (companyLocationCsvToJson.py:40-44);
    * ``globalRegions``: region → global-region index, or an empty map
      when the dim is absent (the reference proceeds with an empty
      index when the CSV is missing, companyLocationCsvToJson.py:55-57);
    * ``hubs`` (optional): VFX-center name → geoLoc string — present in
      the reference's published jumps_(2).json export and consumed by
      the client visualization (functions.js:125); included only when
      the hubs dim is passed.

    Assembled fully Spark-side: people stay distributed until the
    terminal single-document agg; the three dimension maps are
    broadcast-sized by construction (same contract as write_map_json).
    Returns a one-row DataFrame — write with ``.write.json`` or serve
    via ``toJSON().first()``.
    """
    people = export_people_json(worked_for)
    jumps_doc = people.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("id"), F.col("name"), F.col("rels")))
        ).alias("jumps")
    )

    def _map_doc(df: DataFrame, key, value, alias: str) -> DataFrame:
        # the reference assembles these dicts with plain JS assignment
        # (last key wins); map_from_entries THROWS on duplicate keys
        # under the default mapKeyDedupPolicy, so collapse duplicates
        # first. When the source carries a `_row_order` column
        # (read_csv_dim(with_row_order=True)) this is TRUE file-order
        # last-wins via max_by; otherwise max(value) is the documented
        # deterministic stand-in.
        if "_row_order" in df.columns:
            collapsed = df.groupBy(key.alias("_k")).agg(
                F.max_by(value, F.col("_row_order")).alias("_v")
            )
        else:
            collapsed = df.groupBy(key.alias("_k")).agg(F.max(value).alias("_v"))
        return collapsed.agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("_k", "_v")))
            ).alias(alias)
        )

    locations_doc = _map_doc(
        locations, F.col("loc_company_name"), F.col("geo_loc"), "locations"
    )
    regions_doc = _map_doc(
        regions, F.col("reg_location"), F.lower(F.col("global_region")), "regions"
    )
    if global_regions is not None:
        gr_doc = _map_doc(
            global_regions,
            F.col(global_regions.columns[0]),
            F.lower(F.col(global_regions.columns[1])),
            "globalRegions",
        )
    else:
        gr_doc = regions.sparkSession.range(1).select(
            F.map_from_entries(
                F.array().cast("array<struct<key:string,value:string>>")
            ).alias("globalRegions")
        )
    out = (
        jumps_doc.crossJoin(locations_doc)
        .crossJoin(regions_doc)
        .crossJoin(gr_doc)
        .select("jumps", "locations", "regions", "globalRegions")
    )
    if hubs is not None:
        hubs_doc = _map_doc(
            hubs, F.col(hubs.columns[0]), F.col(hubs.columns[1]), "hubs"
        )
        out = out.crossJoin(hubs_doc).select(
            "jumps", "locations", "regions", "globalRegions", "hubs"
        )
    return out


def export_jumps_csv(jumps: DataFrame) -> DataFrame:
    """S7: jump CSV rows ``person,role,date,company,location,region``
    (reference header dwwApi.js:145), comma-strip escaping applied to
    string fields (dwwApi.js:33-35)."""
    from dww_data_pipeline_spark.functions.strings import strip_commas

    # location/region exist only when the pipeline was built WITH the
    # geo dimensions (an explicitly supported option) — export '' then
    def opt(col_name: str):
        if col_name in jumps.columns:
            return F.coalesce(F.col(col_name), F.lit(""))
        return F.lit("")

    cols = {
        "person": F.col("person_name"),
        "role": F.col("true_role"),
        "date": F.col("release"),
        "company": F.col("company_name"),
        "location": opt("location"),
        "region": opt("global_region"),
    }
    return jumps.select(
        *[strip_commas(c.cast("string")).alias(name) for name, c in cols.items()]
    )


def group_jumps(jumps: DataFrame, grouping: str = "person") -> DataFrame:
    """The route's ``grouping`` parameter (dwwRoutes.js:41-49,
    dwwApi.js:172-189): ``person`` nests rows per person; ``none``
    returns the flat rows; ``keys`` groups by the jump key with
    per-key totals."""
    if grouping == "none":
        return jumps
    if grouping == "person":
        rel_cols = [c for c in jumps.columns if c not in ("person_id", "person_name")]
        return seq.nest_documents(
            jumps, ["person_id", "person_name"], rel_cols, TIMELINE_ORDER
        )
    if grouping == "keys":
        return jumps.groupBy("company_name").agg(
            F.count(F.lit(1)).alias("total"),
            F.sort_array(F.collect_set("person_id")).alias("people"),
        )
    raise ValueError(f"unknown grouping {grouping!r} (expected person|none|keys)")


def build_density(worked_for: DataFrame) -> DataFrame:
    """gold density table: per (company, year, true_role) headcount
    with the reference's forward range fill (densityCalc.js:60-90)."""
    with_year = worked_for.filter(F.col("release").isNotNull()).withColumn(
        "yr", F.substring("release", 1, 4).cast("int")
    )
    return density_ops.density(
        with_year,
        entity="person_id",
        group_cols=["company_name", "true_role"],
        year_col="yr",
        order=TIMELINE_ORDER,
    )


def build_search_counts(worked_for: DataFrame) -> DataFrame:
    """gold A1: company search-string counts ordered count-desc,
    search-asc (dwwApi.js:321-342)."""
    return (
        worked_for.groupBy("company_search")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "company_search")
    )


def build_gold(
    credits_raw: DataFrame,
    company_map: DataFrame,
    role_map: DataFrame,
    locations: DataFrame | None = None,
    regions: DataFrame | None = None,
) -> DomainTables:
    """Full bronze → gold flow."""
    wf = build_worked_for(credits_raw, company_map, role_map, locations, regions)
    return DomainTables(
        worked_for=wf,
        jumps=jumps_query(wf),
        density=build_density(wf),
        search_counts=build_search_counts(wf),
    )
