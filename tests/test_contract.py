"""Driver-contract consistency (no JVM): every name the bench, the
entry ordering and the golden oracles refer to is a real entry."""
import __spark_entry__ as entry
import bench
from semlink.queries import REGISTRY


def test_bench_headline_leaves_are_registered():
    assert [n for n in bench.HEADLINE if n not in REGISTRY] == []


def test_demoted_and_priority_names_exist():
    # fixture entries are the contract names that are not in REGISTRY
    known = set(REGISTRY) | set(entry.queries())
    names = entry._DEMOTED | set(entry._PRIORITY)
    assert sorted(names - known) == []


def test_demoted_entries_have_no_golden_oracle():
    assert sorted(entry._DEMOTED & set(entry._load_golden_sql())) == []
