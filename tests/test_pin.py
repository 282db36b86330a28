"""pin_corpus dispatches through a swappable module-level target."""

from __future__ import annotations


def test_swapped_impl_reaches_modules_that_imported_pin_corpus(spark, monkeypatch):
    from p6__mapreduce_spark import queries
    from p6__mapreduce_spark.functions import pin

    calls = []

    def spy(df):
        calls.append(df)
        return df

    monkeypatch.setattr(pin, "_impl", spy)
    df = spark.range(3)
    # queries.py binds pin_corpus by name at import; the swap must still
    # reach it (an A/B arm that rebinds pin.pin_corpus would not)
    assert queries.pin_corpus(df) is df
    assert calls == [df]
