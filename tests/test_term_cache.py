"""kernel._TermCache under concurrent requests: every LRU of the engine
(body postings, BM25F path postings, position blocks) is one, and the
serving process answers requests on a thread per connection."""

import sys
import threading

from engine.kernel import _TermCache


def test_one_entry_cache_under_threads_answers_like_serial():
    """Eight threads hammer a 1-entry cache with distinct keys, so every
    get evicts what another thread just touched; each answer must equal
    the serial one and the budget must hold."""
    cache = _TermCache(lambda keys: {k: k * 7 for k in keys if k % 5},
                       max_keys=1)
    queries = [[i, i + 1, i + 2] for i in range(40)]
    want = [{k: k * 7 for k in q if k % 5} for q in queries]
    errors: list = []
    start = threading.Barrier(8)

    def run(seed: int) -> None:
        start.wait()
        try:
            for r in range(300):
                j = (seed * 13 + r) % len(queries)
                got = cache.get(queries[j])
                if got != want[j]:
                    errors.append((queries[j], got))
        except Exception as e:  # a lost race surfaces as a KeyError
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        threads = [threading.Thread(target=run, args=(s,))
                   for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors[:5]
    assert len(cache) <= 1
