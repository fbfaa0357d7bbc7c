"""Loss accounting and the row check on hand-made tables."""

import pandas as pd

from perfbench import check, config

US = 10**6


def expected():
    return pd.DataFrame(
        {
            "clip_id": ["c1", "c2", "c3", "bad"],
            "kind": ["ok", "ok", "ok", "bad_codec"],
            "event_time": [12 * US, 25 * US, 31 * US, 40 * US],
            "transcript": ["Hello  World", None, "x", "y"],
            "delay_s": [0, 0, 95, 0],
            "n_samples": [100, 200, 300, 10],
            "rms_db": [-10.0, -20.0, float("-inf"), 0.0],
            "peak": [0.5, 0.25, 0.0, 0.0],
            "snr_db": [40.0, 41.0, 39.0, 0.0],
        }
    )


def row(cid, et_s, ws_s, n, rms, peak, tr, norm):
    return {
        "clip_id": cid, "event_time": pd.Timestamp(et_s, unit="s"), "window_start": pd.Timestamp(ws_s, unit="s"),
        "n_samples": n, "rms_db": rms, "peak": peak, "transcript": tr, "transcript_norm": norm,
    }


def good_output():
    return pd.DataFrame(
        [
            row("c1", 12, 10, 100, -10.0, 0.5, "Hello  World", "hello world"),
            row("c3", 31, 30, 300, float("-inf"), 0.0, None, None),
            row(f"{config.SENTINEL_PREFIX}1", 99, 90, 1, 0.0, 0.0, "sentinel", "sentinel"),
        ]
    )


def quarantine(*rows):
    return pd.DataFrame(rows or [], columns=["clip_id", "reject_reason"])


def test_loss_counts_clips_in_neither_table():
    got = check.loss(expected(), good_output(), quarantine(("bad", "DecodeError: x")))
    assert got == {"unique": 4, "lost": 1, "lost_frac": 0.25}


def test_loss_ignores_rows_not_in_the_input():
    got = check.loss(expected(), good_output(), quarantine(("other", "DecodeError: x")))
    assert got["lost"] == 2


def test_correct_tables_pass():
    assert check.check(expected(), good_output(), quarantine(("bad", "DecodeError: x")), strict_transcripts=True) == []


def test_duplicate_keys_fail():
    out = pd.concat([good_output(), good_output().iloc[:1]])
    errs = check.check(expected(), out, quarantine(), strict_transcripts=False)
    assert any("duplicate (clip_id, window_start)" in e for e in errs)


def test_wrong_feature_fails():
    out = good_output()
    out.loc[0, "rms_db"] = -10.01
    errs = check.check(expected(), out, quarantine(), strict_transcripts=False)
    assert any("rms_db" in e for e in errs)


def test_wrong_normalization_fails():
    out = good_output()
    out.loc[0, "transcript_norm"] = "Hello World"
    errs = check.check(expected(), out, quarantine(), strict_transcripts=False)
    assert any("transcript_norm" in e for e in errs)


def test_missing_transcript_fails_only_when_strict():
    out = good_output()
    out.loc[0, ["transcript", "transcript_norm"]] = None
    assert check.check(expected(), out, quarantine(), strict_transcripts=False) == []
    errs = check.check(expected(), out, quarantine(), strict_transcripts=True)
    assert any("not joined" in e for e in errs)


def test_window_start_must_be_the_floor():
    out = good_output()
    out.loc[0, "window_start"] = pd.Timestamp(0, unit="s")
    errs = check.check(expected(), out, quarantine(), strict_transcripts=False)
    assert any("window_start" in e for e in errs)


def test_malformed_clip_in_output_and_valid_clip_in_quarantine_fail():
    out = pd.concat([good_output(), pd.DataFrame([row("bad", 40, 40, 10, 0.0, 0.0, "y", "y")])])
    errs = check.check(expected(), out, quarantine(("c2", "DecodeError: x")), strict_transcripts=False)
    assert any("bad: bad_codec payload in output" in e for e in errs)
    assert any("c2: valid clip quarantined" in e for e in errs)


def test_quarantine_reason_must_match_the_fault():
    errs = check.check(expected(), good_output(), quarantine(("bad", "RecordTooLarge:9>4")), strict_transcripts=False)
    assert errs == ["bad: bad_codec quarantined as 'RecordTooLarge:9>4'"]
