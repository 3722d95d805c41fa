"""The generator's expected results, checked by hand-built records and
against the engine on a small seeded dump."""

import hashlib

import flashscore_gen as fg


def _rec(**kw):
    base = {
        "current_status": "Finished", "current_country": "France",
        "current_tournament": "Ligue 1", "participant_home": "PSG",
        "participant_away": "OM", "participant_home_current_score": "2",
        "participant_away_current_score": "1", "year": 2023, "month": 11,
        "day": 4, "hour": 18, "minute": 38, "match_hour": "18:38",
        "lineups_data": {"Team1": [{"name": f"H{i}"} for i in range(11)],
                         "Team2": [{"name": f"A{i}"} for i in range(11)]},
        "bookmakers_data": [{"bookmaker": "bet365",
                             "odds": ["1.5", "3.2", "5.0"]}],
    }
    base.update(kw)
    return base


def test_expected_counts_follow_each_defect():
    records = [
        _rec(),                                              # clean
        _rec(current_status="Postponed", minute=1),          # filtered
        _rec(current_country=None, minute=2),                # na.drop only
        _rec(participant_home_current_score="abd", minute=3),  # null score
        _rec(lineups_data={"Team1": [{"name": "x"}] * 10,
                           "Team2": [{"name": "y"}] * 11}, minute=4),
        _rec(lineups_data={"Team1": [{"name": "x"}] * 11}, minute=5),
        _rec(lineups_data=None, bookmakers_data=None, minute=6),
    ]
    exp = fg.expected(records)
    assert exp["input_records"] == 7
    assert exp["counts"] == {
        "MATCH_FINISHED": 5,        # all Finished rows but the null country
        "HOME_STARTING_LINEUP": 4,  # Finished with 11 home players
        "AWAY_STARTING_LINEUP": 4,  # ... 11 away players
        "ODDS": 6,                  # every Finished row
    }
    by_minute = {r[5]: r for r in filter(None, map(fg.match_row, records))}
    assert by_minute[3][9] is None and by_minute[3][11] == 1


def test_match_id_is_sha256_of_the_natural_key_without_nulls():
    rec = _rec(year=None)
    key = "France|Ligue 1|PSG|OM|11|4|18|38"
    assert fg.match_id(rec) == hashlib.sha256(key.encode()).hexdigest()


def test_generator_is_seeded_and_keys_are_distinct():
    a, b = fg.make_matches(5, 400), fg.make_matches(5, 400)
    assert a == b
    assert a != fg.make_matches(6, 400)
    assert len({fg.natural_key(r) for r in a}) == 400
    statuses = sum(r["current_status"] != "Finished" for r in a)
    assert 0.05 * 400 < statuses < 0.3 * 400


def test_drops_redeliver_and_latest_delivery_wins():
    drops = fg.make_drops(3, 4, 50)
    assert [len(d) for d in drops] == [50] * 4
    for d in drops:
        assert len({fg.natural_key(r) for r in d}) == len(d)
    seen = {fg.natural_key(r) for r in drops[0]}
    assert sum(fg.natural_key(r) in seen for r in drops[1]) == 10
    exp = fg.expected_after_drops(drops)
    latest = {}
    for d in drops:
        for r in d:
            row = fg.match_row(r)
            if row:
                latest[row[0]] = row
    assert exp["keyed_rows"] == len(latest)
    assert exp["keyed_digest"] == fg.rows_digest(latest.values())
    assert exp["input_records"] == 200


def test_engine_matches_expected(spark, tmp_path):
    from data_pipeline_eng_project_1_spark.plans import flashscore

    records = fg.make_matches(11, 600)
    exp = fg.expected(records)
    paths = fg.write_dumps(records, str(tmp_path / "in"), 3)
    out = str(tmp_path / "out")
    flashscore.run_pipeline(spark, paths, out, mode="overwrite")
    counts = {t: spark.read.parquet(f"{out}/{t}").count()
              for t in exp["counts"]}
    assert counts == exp["counts"]
    rows = (spark.read.parquet(f"{out}/MATCH_FINISHED")
            .select(*fg.MATCH_ROW_COLUMNS).collect())
    assert fg.rows_digest(tuple(r) for r in rows) == exp["match_digest"]
