package graft

/** Serializes test sections that toggle the JVM-global
  * `graft.bloom.ship-bytes` bound or assert observables it steers
  * (bloom container counts): sbt runs suites in parallel inside one
  * forked JVM, so an unserialized toggle silently changes every
  * concurrent suite's bloom container layout while it is set. Both
  * layouts are correct, so ordinary suites don't care — only the
  * toggling/asserting sections take the lock.
  */
object GlobalFlagLock
