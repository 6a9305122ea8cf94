package graft.cef

package object spark {
  /** The former name of [[graft.cef.SpstRun]], still used by the benchmark's reference replay. */
  type RestorableSpstRun = graft.cef.SpstRun
}
