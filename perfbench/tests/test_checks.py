"""The output checks accept right answers and flag wrong ones."""

from perfbench import checks

TRUTH = {1: 0.5, 2: 1.0, 3: 1.0, 4: 2.0, 5: 3.0}
EXACT = [(1, 0.5), (2, 1.0), (3, 1.0)]


def test_exact_topk_accepts_the_answer_and_tied_substitutes():
    assert checks.check_exact_topk(EXACT, EXACT, TRUTH) is None
    truth = {**TRUTH, 6: 1.0}
    assert checks.check_exact_topk([(1, 0.5), (2, 1.0), (6, 1.0)], EXACT, truth) is None


def test_exact_topk_flags_wrong_results():
    assert checks.check_exact_topk([(1, 0.5), (2, 1.0), (4, 2.0)], EXACT, TRUTH)
    assert checks.check_exact_topk([(1, 0.5), (2, 1.0), (3, 1.5)], EXACT, TRUTH)
    assert checks.check_exact_topk([(1, 0.5), (2, 1.0)], EXACT, TRUTH)
    assert checks.check_exact_topk([(2, 1.0), (1, 0.5), (3, 1.0)], EXACT, TRUTH)
    assert checks.check_exact_topk([(1, 0.5), (2, 1.0), (9, 1.0)], EXACT, TRUTH)


def test_approx_flags_removed_filtered_and_misscored_rows():
    assert checks.check_approx([(1, 0.5), (4, 2.0)], 3, TRUTH) is None
    assert checks.check_approx([(1, 0.5), (7, 2.0)], 3, TRUTH)          # not live
    assert checks.check_approx([(1, 0.5), (4, 2.0)], 3, TRUTH, {1})     # outside pre-filter
    assert checks.check_approx([(1, 0.5), (4, 2.5)], 3, TRUTH)          # wrong score
    assert checks.check_approx([(4, 2.0), (1, 0.5)], 3, TRUTH)          # unordered
    assert checks.check_approx([(1, 0.5), (1, 0.5)], 3, TRUTH)          # duplicate
    assert checks.check_approx([(1, 0.5), (2, 1.0), (3, 1.0), (4, 2.0)], 3, TRUTH)


def test_ids_and_dropped_sets():
    assert checks.check_ids([1, 2], [1, 2]) is None
    assert checks.check_ids([1, 3], [1, 2])
    assert checks.check_ids([2, 1], [1, 2])
    assert checks.check_dropped({5, 6}, {5, 6}) is None
    assert checks.check_dropped({5}, {5, 6})
    assert checks.check_dropped({5, 6, 1}, {5, 6})


def test_recall():
    assert checks.recall([1, 2, 9], [1, 2, 3]) == 2 / 3
    assert checks.recall([], []) == 1.0
