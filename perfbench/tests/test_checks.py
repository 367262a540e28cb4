"""Every pass is checked, and a wrong pass counts as failed."""

from checks import OutputSummary, PassResult, Tally, check_output, sampled_digest

K = 2
SAMPLED = [(0, "c1"), (0, "c2"), (60, "c3")]
ROWS = {"sampled_traces": 7, "overflow": 5, "dlq": 1}


def _pass(rows, sampled=SAMPLED):
    return lambda: PassResult(1.0, [1.0], lambda: OutputSummary(dict(rows), list(sampled)))


def test_correct_pass_is_kept_and_sets_the_reference_digest():
    tally = Tally(input_rows=13, k=K)
    assert tally.run(_pass(ROWS)) is not None
    assert (tally.attempted, tally.failed) == (1, 0)
    assert tally.ref_digest == sampled_digest(SAMPLED)


def test_a_dropped_row_counts_as_failed():
    tally = Tally(input_rows=13, k=K)
    dropped = dict(ROWS, overflow=ROWS["overflow"] - 1)
    assert tally.run(_pass(dropped)) is None
    assert (tally.attempted, tally.failed) == (1, 1)


def test_a_raising_pass_counts_as_failed():
    def boom():
        raise RuntimeError("executor lost")

    tally = Tally(input_rows=13, k=K)
    assert tally.run(boom) is None
    assert (tally.attempted, tally.failed) == (1, 1)


def test_too_many_winners_in_a_window_fails():
    problems, _ = check_output(OutputSummary(ROWS, SAMPLED + [(0, "c4")]), 13, K, None)
    assert any("k=2" in p for p in problems)


def test_reservoir_that_never_drops_fails():
    problems, _ = check_output(OutputSummary({"sampled_traces": 13}, SAMPLED), 13, K, None)
    assert problems == ["no overflow rows: k never binds"]


def test_digest_must_match_the_stored_one():
    tally = Tally(input_rows=13, k=K, ref_digest=sampled_digest(SAMPLED))
    assert tally.run(_pass(ROWS)) is not None
    assert tally.run(_pass(ROWS, sampled=[(0, "c1"), (0, "c2"), (60, "c9")])) is None
    assert (tally.attempted, tally.failed) == (2, 1)
