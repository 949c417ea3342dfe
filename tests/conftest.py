"""Suite-wide pytest hooks."""

from __future__ import annotations


def pytest_terminal_summary(terminalreporter) -> None:  # noqa: ANN001
    """List every skipped test by node id and reason, so a skip — e.g. a
    test whose reference fixture is missing — reads as unverified, not as
    green. Reporting only: selection and outcomes are unchanged."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    terminalreporter.section(f"{len(skipped)} skipped (unverified)", sep="-")
    for rep in skipped:
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else rep.longrepr
        reason = str(reason).removeprefix("Skipped: ")
        terminalreporter.write_line(f"SKIPPED {rep.nodeid} - {reason}")
