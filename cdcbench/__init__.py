"""CDC benchmark package: see README.md."""
