"""End-to-end inReach pipeline tests on golden KML fixtures — every
required document from FIXTURES.md §3 and the §2.3 oracle traps."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from etl_inreach_spark.plans.inreach import inreach_pipeline, normalize_shares
from etl_inreach_spark.sources.kml import kml_to_placemarks


def kml_doc(placemarks: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>'
        + placemarks
        + "</Folder></Document></kml>"
    )


def pm(when=None, coords=None, **data) -> str:
    out = "<Placemark>"
    if when is not None:
        out += f"<TimeStamp><when>{when}</when></TimeStamp>"
    if coords is not None:
        out += f"<Point><coordinates>{coords}</coordinates></Point>"
    if data:
        out += "<ExtendedData>"
        for k, v in data.items():
            out += f'<Data name="{k.replace("_", " ")}"><value>{v}</value></Data>'
        out += "</ExtendedData>"
    return out + "</Placemark>"


# Every Point-bearing placemark MUST carry Course/Velocity/TimeStamp/
# ExtendedData — the reference throws (and drops the whole feed)
# otherwise (task.ts:110-142); only Point-LESS placemarks may omit them
# (the `continue` at task.ts:104 runs first).
GOOD_FEED = kml_doc(
    pm(
        when="2024-01-01T00:00:00Z",
        coords="-105.1,39.7,1650.0",
        IMEI="111",
        Name="Alpha",
        Id="msg-1",
        Course="45.5 ° True",
        Velocity="12.0 km/h",
        Device_Type="inReach Mini",
        Device_Identifier="dev-1",
    )
    + pm(  # same device, later: replaces
        when="2024-01-01T00:10:00Z",
        coords="-105.2,39.8",
        IMEI="111",
        Name="Alpha",
        Id="msg-2",
        Course="90.0 ° True",
        Velocity="6.0 km/h",
        Device_Type="inReach Mini",
        Device_Identifier="dev-1",
    )
    + pm(  # same device, equal ts as msg-2: first-seen wins
        when="2024-01-01T00:10:00Z",
        coords="-1.0,2.0",
        IMEI="111",
        Name="Alpha",
        Id="msg-3",
        Course="10.0 ° True",
        Velocity="1.0 km/h",
        Device_Type="inReach Mini",
        Device_Identifier="dev-1",
    )
    + pm(  # no Point: filtered (O10), exempt from the required keys
        when="2024-01-01T00:20:00Z", IMEI="111", Id="msg-4"
    )
    + pm(  # second device: EMPTY Course/Velocity (Number('') === 0)
        # and a malformed third coordinate (parseFloat -> NaN -> null)
        when="2024-01-01T00:05:00Z",
        coords="10.0,20.0,bogus",
        IMEI="222",
        Name="Bravo",
        Course="",
        Velocity="",
    )
)

# One bad Point-placemark (no Velocity key) poisons the WHOLE feed —
# the sibling good placemark (device 444) must vanish with it.
POISONED_FEED = kml_doc(
    pm(
        when="2024-01-01T00:00:00Z",
        coords="1.0,2.0",
        IMEI="333",
        Course="1.0 ° True",
    )
    + pm(
        when="2024-01-01T00:01:00Z",
        coords="3.0,4.0",
        IMEI="444",
        Course="2.0 ° True",
        Velocity="2.0 km/h",
    )
)

# Unparseable TimeStamp.when: Invalid Date .toISOString() throws in the
# reference (task.ts:122-123) -> whole feed dropped.
BAD_DATE_FEED = kml_doc(
    pm(
        when="not-a-date",
        coords="5.0,6.0",
        IMEI="555",
        Course="1.0 ° True",
        Velocity="1.0 km/h",
    )
)

SHARES = [
    Row(share_id="https://share.garmin.com/AAA", callsign="ALPHA", password=None),
    Row(share_id="share.garmin.com/BBB", callsign=None, password="pw"),
    Row(share_id="CCC", callsign="CHARLIE", password=None),
    Row(share_id="DDD", callsign="DELTA", password=None),
    Row(share_id="EEE", callsign="ECHO", password=None),
    Row(share_id="FFF", callsign="FOX", password=None),
    Row(share_id="GGG", callsign="GOLF", password=None),
]

FEEDS = [
    Row(share_id="AAA", body=GOOD_FEED),
    Row(share_id="BBB", body=""),  # empty body short-circuit (O7)
    Row(share_id="CCC", body="definitely <<< not xml"),  # malformed: whole feed dropped
    Row(share_id="DDD", body='<?xml version="1.0"?><notkml><x/></notkml>'),  # no Document
    Row(  # Document without Folder: empty, not an error
        share_id="EEE",
        body='<?xml version="1.0"?><kml><Document></Document></kml>',
    ),
    Row(share_id="FFF", body=POISONED_FEED),  # missing Velocity key
    Row(share_id="GGG", body=BAD_DATE_FEED),  # unparseable when
]


@pytest.fixture(scope="module")
def result(spark):
    shares = spark.createDataFrame(
        SHARES, "share_id string, callsign string, password string"
    )
    feeds = spark.createDataFrame(FEEDS, "share_id string, body string")
    rows = inreach_pipeline(shares, feeds).collect()
    return {r["id"]: r for r in rows}


def test_feed_isolation_and_dedup(result):
    # only the good feed contributes; one row per device. The poisoned
    # feed's GOOD placemark (device 444) vanished with its feed, and the
    # bad-date feed dropped whole — feed-granular isolation (§2.3.7)
    assert set(result) == {"inreach-111", "inreach-222"}


def test_argmax_keeps_latest_first_seen_on_tie(result):
    r = result["inreach-111"]
    # msg-2 (first seen among the 00:10 tie) wins, not msg-3, not msg-1
    assert r["inreach_id"] == "msg-2"
    assert (r["lon"], r["lat"]) == (-105.2, 39.8)
    assert r["alt"] is None  # 2-element coordinates
    assert r["n_coords"] == 2
    assert r["callsign"] == "ALPHA"
    assert r["link_url"] == "https://share.garmin.com/AAA"


def test_unit_strip_and_convert(result):
    r = result["inreach-222"]
    # EMPTY Course/Velocity -> 0, the JS Number('') semantics
    # (task.ts:119-120, SURVEY.md §2.3.5)
    assert r["course"] == 0.0
    assert r["speed"] == 0.0
    assert r["inreach_text"] is None  # missing optional key
    # third coordinate unparseable: NULL alt but the slot EXISTS
    assert (r["lon"], r["lat"], r["alt"]) == (10.0, 20.0, None)
    assert r["n_coords"] == 3
    a = result["inreach-111"]
    assert a["course"] == 90.0
    assert a["speed"] == 6.0 * 0.277778


def test_js_date_grammar_parity(spark):
    """task.ts:122-123 accepts whatever JS `new Date()` accepts. Feeds
    whose `when` uses the common JS-parsable non-ISO shapes must be
    KEPT (with the correctly parsed instant); a shape no JS engine
    parses must still drop its whole feed. Pins the divergence noted
    in sources/kml.py's docstring — fails if it silently widens."""
    import datetime

    js_whens = {
        "J01": ("2026/08/13 10:00", datetime.datetime(2026, 8, 13, 10, 0)),
        "J02": ("2026/8/3", datetime.datetime(2026, 8, 3)),
        "J03": (
            "Wed, 13 Aug 2026 10:00:00 GMT",
            datetime.datetime(2026, 8, 13, 10, 0),
        ),
        "J04": (
            "13 Aug 2026 10:00:00 +0200",
            datetime.datetime(2026, 8, 13, 8, 0),
        ),
        "J05": ("Aug 13, 2026 10:00:00", datetime.datetime(2026, 8, 13, 10, 0)),
        # zone-less / seconds-less / date-only forms JS also accepts
        # (round-4 review: the first pattern set rejected all three)
        "J06": (
            "Wed, 13 Aug 2026 10:00:00",
            datetime.datetime(2026, 8, 13, 10, 0),
        ),
        "J07": (
            "Thu, 13 Aug 2026 10:00 GMT",
            datetime.datetime(2026, 8, 13, 10, 0),
        ),
        "J08": ("Aug 13, 2026 10:00", datetime.datetime(2026, 8, 13, 10, 0)),
        "J09": ("13 Aug 2026", datetime.datetime(2026, 8, 13)),
    }
    feeds = [
        Row(
            share_id=sid,
            body=kml_doc(
                pm(
                    when=w,
                    coords="1.0,2.0",
                    IMEI=sid,
                    Course="1.0 ° True",
                    Velocity="3.6 km/h",
                )
            ),
        )
        for sid, (w, _) in js_whens.items()
    ] + [Row(share_id="JBAD", body=BAD_DATE_FEED)]
    shares = spark.createDataFrame(
        [Row(share_id=s, callsign=s, password=None) for s in [*js_whens, "JBAD"]],
        "share_id string, callsign string, password string",
    )
    rows = inreach_pipeline(
        shares, spark.createDataFrame(feeds, "share_id string, body string")
    ).collect()
    got = {r["share_id"]: r["time"] for r in rows}
    want = {sid: ts for sid, (_, ts) in js_whens.items()}
    assert got == want  # JBAD dropped; every JS shape kept, instant exact


def test_placemark_arrival_order(spark):
    feeds = spark.createDataFrame([Row(share_id="AAA", body=GOOD_FEED)], "share_id string, body string")
    pms = kml_to_placemarks(feeds).collect()
    assert [p["arrival_idx"] for p in pms] == [0, 1, 2, 3, 4]
    assert pms[3]["point_coordinates"] is None  # no-Point placemark visible pre-filter


def test_callsign_defaults_to_share_id(spark):
    shares = spark.createDataFrame(SHARES, "share_id string, callsign string, password string")
    got = {r["share_id"]: r["callsign"] for r in normalize_shares(shares).collect()}
    assert got["BBB"] == "BBB"  # NULL callsign -> normalized share id
    assert got["AAA"] == "ALPHA"


def test_geojson_sink_shape(spark):
    from etl_inreach_spark.plans.inreach import inreach_pipeline
    from etl_inreach_spark.sinks.geojson import features_to_json
    from tests.references import parse_feature_collection

    shares = spark.createDataFrame(SHARES, "share_id string, callsign string, password string")
    feeds = spark.createDataFrame(FEEDS, "share_id string, body string")
    fjson = features_to_json(inreach_pipeline(shares, feeds))
    docs: list[str] = []
    # local collector stands in for the HTTP poster
    rows = fjson.collect()
    docs.append(
        '{"type":"FeatureCollection","features":[' + ",".join(r["feature_json"] for r in rows) + "]}"
    )
    feats = parse_feature_collection(docs[0])
    assert len(feats) == 2
    by_id = {f["id"]: f for f in feats}
    f = by_id["inreach-111"]
    assert f["type"] == "Feature"
    assert f["geometry"] == {"type": "Point", "coordinates": [-105.2, 39.8]}
    assert f["properties"]["metadata"]["inreachIMEI"] == "111"
    assert f["properties"]["links"][0]["url"] == "https://share.garmin.com/AAA"
    # the self-link uid is the feature's own id (task.ts:114,125)
    assert f["properties"]["links"][0]["uid"] == f["id"]
    # absent optionals are OMITTED from JSON (ignoreNullFields), like
    # undefined keys in the reference's JS serialization
    assert "inreachText" not in f["properties"]["metadata"]
    # 3-component coords with unparseable third: trailing null KEPT
    # ([lon, lat, null], the reference parseFloat-maps every component)
    g = by_id["inreach-222"]
    assert g["geometry"]["coordinates"] == [10.0, 20.0, None]
    assert g["properties"]["links"][0]["uid"] == "inreach-222"


def test_single_xml_parse_in_plan(spark):
    """The document must be parsed EXACTLY once: Catalyst inlines
    multiply-referenced aliases (CollapseProject) and substitutes them
    into pushed-down Filters, which round 2 showed re-evaluating
    from_xml 3x per feed. The lambda-variable binding in
    kml_to_placemarks pins it to one evaluation."""
    feeds = spark.createDataFrame(
        [Row(share_id="AAA", body=GOOD_FEED)], "share_id string, body string"
    )
    plan = kml_to_placemarks(feeds)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_xml") == 1, plan


def _fixture_frames(spark, shares=SHARES, feeds=FEEDS):
    return (
        spark.createDataFrame(shares, "share_id string, callsign string, password string"),
        spark.createDataFrame(feeds, "share_id string, body string"),
    )


def test_config_joins_above_the_dedup(spark):
    """The callsign never touches the dedup key (share_id, id) or its
    ordering, so the config joins onto the dedup's survivors: the join
    sits above the aggregate, and the aggregate (and its shuffle) never
    carries the callsign. A join below the aggregate would put the
    config broadcast back on the feed-read stage's critical path."""
    shares, feeds = _fixture_frames(spark)
    plan = inreach_pipeline(shares, feeds)._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    join = next(i for i, line in enumerate(lines) if "Join " in line)
    agg = next(i for i, line in enumerate(lines) if "Aggregate [" in line)
    assert join < agg, plan
    assert "callsign" not in lines[agg], plan


def test_duplicate_config_rows_each_get_their_feature(spark):
    """Two config rows that normalize to one share id: the reference
    runs one closure per configured share (task.ts:66-170), so each
    config row posts the feed's deduped features under its own
    callsign."""
    shares, feeds = _fixture_frames(
        spark,
        shares=[
            Row(share_id="https://share.garmin.com/AAA", callsign="ALPHA", password=None),
            Row(share_id="AAA", callsign="ALPHA-2", password=None),
        ],
        feeds=[Row(share_id="AAA", body=GOOD_FEED)],
    )
    rows = inreach_pipeline(shares, feeds).collect()
    assert sorted((r["id"], r["callsign"]) for r in rows) == [
        ("inreach-111", "ALPHA"),
        ("inreach-111", "ALPHA-2"),
        ("inreach-222", "ALPHA"),
        ("inreach-222", "ALPHA-2"),
    ]
    # both copies carry the same dedup winner (first seen of the tie)
    assert {r["inreach_id"] for r in rows if r["id"] == "inreach-111"} == {"msg-2"}


def test_pipeline_build_round_trips(spark):
    """Every stage is built from SQL text, so building the whole
    pipeline through the GeoJSON rendering stays within a fixed py4j
    budget (a Column-built pipeline made about 1,430 round trips)."""
    from etl_inreach_spark.sinks.geojson import features_to_json
    from tools.measure import py4j_calls

    shares, feeds = _fixture_frames(spark)
    with py4j_calls(spark) as calls:
        features_to_json(inreach_pipeline(shares, feeds))
    assert calls.n <= 300, calls.n
