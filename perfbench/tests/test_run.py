import run


def test_pair_hash_is_kept_and_compared_across_runs(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "TRACES", tmp_path)
    problems: list[str] = []
    assert not run.hash_differs_across_runs("w", 1, {"aa"}, problems)
    assert (tmp_path / "w-seed1.sha256").read_text().strip() == "aa"
    assert not run.hash_differs_across_runs("w", 1, {"aa"}, problems)
    assert not run.hash_differs_across_runs("w", 2, {"bb"}, problems)
    assert problems == []
    assert run.hash_differs_across_runs("w", 1, {"bb"}, problems)
    assert len(problems) == 1 and "differs" in problems[0]
    # no output, or two hashes within the run: nothing kept or compared
    assert not run.hash_differs_across_runs("w", 3, set(), problems)
    assert not run.hash_differs_across_runs("w", 3, {"aa", "bb"}, problems)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["w-seed1.sha256", "w-seed2.sha256"]
