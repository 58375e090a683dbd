"""Source connectors (SURVEY §2.1).

Real network fetching (DATASUS FTP, GCS) is out of scope for
correctness runs — the FTP client takes an injected transport. The
LIST scan is driver-side (EP3); the fetch and decode of the exact files
EP3's ledger names run on executors, one task per file (EP1).
"""
